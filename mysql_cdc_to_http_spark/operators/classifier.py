"""Hashed linear text classifier — fasttext-style model scoring as a
pure, shuffle-free JVM projection.

The 100 TB story: model-based quality filtering (the CCNet / GPT-3
"looks like reference text?" gate) is a linear model over a hashed
bag-of-words. At scale that MUST be a projection — no explode, no
shuffle, no Python: here each document folds its token array through
``F.aggregate`` (whole-stage-codegen'd), looking up each token's weight
by the hashing trick (token → md5 feature index → md5-derived weight).
A real trained model would broadcast a weights map; the deterministic
md5-derived weights stand in for the artifact while exercising the
exact same plan shape, and make the operator EQUALITY-oracle-able.

Float determinism by construction: every weight is k/1024 with
|k| <= 1024 — a multiple of 2^-10 with magnitude <= 1 — so per-document
sums (< a few thousand terms) are EXACT in IEEE double regardless of
addition order, and the final mean is one correctly-rounded division.
No rounding slack needed anywhere; any engine with md5 reproduces the
score bit-for-bit (same primitive as operators/sampling.py:split_bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

N_FEATURES = 1024
WEIGHT_DENOM = 1024  # weights are k/1024, k in [-1024, 1024]
FEATURE_SALT = "qc-v1"
WEIGHT_SALT = "qc-w1"


def _md5_bits24(s: Column) -> Column:
    return F.conv(F.substring(F.md5(s), 1, 6), 16, 10).cast("long")


def feature_index(tok: Column, n_features: int = N_FEATURES) -> Column:
    """Hashing-trick feature id of a token: first 24 md5 bits of
    'qc-v1|token' mod n_features. Collisions share a weight — that is
    the hashing trick's contract, not a bug."""
    return F.pmod(
        _md5_bits24(F.concat(F.lit(FEATURE_SALT + "|"), tok)), F.lit(n_features)
    )


def feature_weight(idx: Column, denom: int = WEIGHT_DENOM) -> Column:
    """Deterministic stand-in weight for feature ``idx``: uniform over
    {-1024..1024}/1024. Exactly representable (denominator 2^10)."""
    bits = _md5_bits24(F.concat(F.lit(WEIGHT_SALT + "|"), idx.cast("string")))
    return (
        (F.pmod(bits, F.lit(2 * denom + 1)) - F.lit(denom))
        / F.lit(float(denom))
    )


def score_tokens(toks: Column) -> Column:
    """Mean feature weight over a token array — the linear model score,
    computed as one JVM HOF fold (no explode, no shuffle, no Python)."""
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + feature_weight(feature_index(t)),
    )
    return total / F.size(toks).cast("double")
