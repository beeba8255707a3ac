"""Shared engine session/global state: system-variable defaults, the
process-global SET GLOBAL overlay, and the result/prepared-statement
dataclasses. One module so the Engine and its DDL/DML/prepared mixins
share state without an import cycle."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


DEFAULT_SYS_VARS: dict[str, object] = {
    # mirrors the global-variables table the reference serves
    # (/root/reference/src/meta/def/performance_schema.rs, initial.rs:1113)
    "version": "8.0.26-ebike-spark-0.1",
    "version_comment": "ebike_spark (PySpark-native)",
    "autocommit": "ON",
    "sql_mode": "ONLY_FULL_GROUP_BY",
    "character_set_client": "utf8mb4",
    "character_set_connection": "utf8mb4",
    "character_set_results": "utf8mb4",
    "collation_connection": "utf8mb4_0900_ai_ci",
    "max_allowed_packet": 67108864,
    "lower_case_table_names": 1,
    "transaction_isolation": "REPEATABLE-READ",
    "wait_timeout": 28800,
    "interactive_timeout": 28800,
    # LOAD DATA path gate (MySQL --secure-file-priv): '' = any
    # server-readable path (a real MySQL configuration and this
    # engine's default); a directory restricts loads to it. READ-ONLY
    # at runtime, exactly like MySQL (SET -> 1238): if it were
    # session-settable, any wire client could lift the fence and read
    # any server-readable file. Fix it at Engine/server construction.
    "secure_file_priv": "",
}

# Variables MySQL refuses to SET at runtime (ER 1238). secure_file_priv
# is the security-load-bearing one: the LOAD DATA fence must be fixed
# at server start, not liftable over the wire.
READ_ONLY_SYS_VARS = frozenset({"secure_file_priv", "version", "version_comment"})

# SET GLOBAL scope: shared across every Engine (session) on this
# process, seeding new sessions — MySQL's global-variable semantics
# (the reference keeps one process-wide GlobalContext the same way,
# /root/reference/src/core/global_context.rs). SESSION scope lives on
# each Engine's sys_vars.
GLOBAL_VARS: dict[str, object] = {}


@dataclass
class EngineResult:
    kind: str  # 'rows' | 'count' | 'ok'
    df: DataFrame | None = None
    affected: int = 0

    def rows(self):
        return self.df.collect() if self.df is not None else []


@dataclass
class _Prepared:
    sql: str
    n_params: int

