"""Engine configuration — the analog of the reference's env surface
(``.env.example``, loaded by ``loadEnv``/``getEnv``/``getEnvInt``,
``main.go:313-381``), as a typed dataclass with env + defaults.

Reference keys map as:

| reference (.env.example)    | engine field          | note |
|-----------------------------|-----------------------|------|
| DB_ADDR/DB_USER/DB_PASSWORD | (CLI --events-dir)    | directory of the envelope stream (wire protocol out of scope) |
| DB_FLAVOR, SERVER_ID        | (n/a)                 | binlog-client specifics |
| POSITION_FILE               | (CLI --work-dir)      | Spark checkpoints under the work dir replace the JSON position file (main.go:287-306) |
| POST_URL                    | post_url              | HTTP sink base URL (main.go:105) |
| TABLE_GROUPS_FILE           | table_groups_file     | YAML group→tables routing (main.go:313-332) |
| REDIS_ADDR/.../REDIS_DB     | queue_dir             | file-directory queue replaces the Redis list (main.go:38) |
| LOG_LEVEL                   | (n/a)                 | Spark's log4j configuration sets log levels |
| (none)                      | max_files_per_trigger | envelope files per micro-batch (MAX_FILES_PER_TRIGGER) |
| (none)                      | http_retries          | retries per event before it is dead-lettered (HTTP_RETRIES) |
| (none)                      | compat_drop_deletes   | drop ``op = 'd'`` events like main.go:58-60 (COMPAT_DROP_DELETES) |
"""

from __future__ import annotations

import os

from dataclasses import dataclass, field


def _env(key: str, default: str) -> str:
    return os.environ.get(key, default)


def _env_int(key: str, default: int) -> int:
    """Typed getter with fail-soft fallback (getEnvInt, main.go:370-381)."""
    try:
        return int(os.environ.get(key, ""))
    except ValueError:
        return default


@dataclass
class EngineConfig:
    post_url: str = field(
        default_factory=lambda: _env("POST_URL", "http://localhost:8080/cdc")
    )
    table_groups_file: str | None = field(
        default_factory=lambda: os.environ.get("TABLE_GROUPS_FILE")
    )
    queue_dir: str = field(
        default_factory=lambda: _env("QUEUE_DIR", "./storage/queue")
    )
    max_files_per_trigger: int = field(
        default_factory=lambda: _env_int("MAX_FILES_PER_TRIGGER", 8)
    )
    http_retries: int = field(default_factory=lambda: _env_int("HTTP_RETRIES", 3))
    #: compat flag reproducing the reference's lossy delete drop
    compat_drop_deletes: bool = field(
        default_factory=lambda: _env("COMPAT_DROP_DELETES", "false") == "true"
    )


def load_config() -> EngineConfig:
    return EngineConfig()
