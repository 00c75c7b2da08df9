"""Pipeline configuration (reference: src/session.rs:16-40, src/main.rs:111-124).

YAML shape kept from the reference::

    db_path: warehouse.db        # → directory for table materializations
    macro_path: macros
    models_dir: models
    spark_settings:              # reference key: duckdb_settings
      spark.sql.shuffle.partitions: "32"
    models:
      source_orders:
        materialize: table
        partition_by: o_orderstatus      # hive dirs → planning-time pruning
        cluster_by: o_custkey, o_orderdate  # row-group min/max clustering

``db_path`` in the reference is a DuckDB database file; here it is the
warehouse *directory* where ``materialize: table`` models persist as
Parquet (one subdirectory per model), which preserves the reference's
"tables persist across runs" behavior (reference: main.rs:126-132,
node.rs:158-162). ``duckdb_settings`` is accepted as an alias for
``spark_settings`` so reference configs keep working.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import yaml

from arnab_spark.errors import ArnabError

CONFIG_FILE = "config.yaml"


@dataclass
class Config:
    db_path: str | None = None
    macro_path: str | None = None
    models_dir: str = "."
    engine_settings: dict[str, str] = field(default_factory=dict)
    models: dict[str, dict] = field(default_factory=dict)
    strict: bool = False  # improvement: fail the process on model errors

    def materialization_for(self, model_id: str) -> str:
        """Per-model ``materialize`` (default ``view``;
        reference: session.rs:217-221, node.rs:156-174)."""
        return (self.models.get(model_id) or {}).get("materialize", "view")


def load_config(
    cwd: str = ".",
    models_dir_override: str | None = None,
    db_path_override: str | None = None,
) -> Config:
    """Read ``config.yaml`` from ``cwd`` (defaults when absent), then
    apply CLI overrides (reference: main.rs:111-124)."""
    path = os.path.join(cwd, CONFIG_FILE)
    raw: dict = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            raw = yaml.safe_load(f) or {}
    cfg = Config(
        db_path=raw.get("db_path"),
        macro_path=raw.get("macro_path"),
        models_dir=raw.get("models_dir", "."),
        engine_settings=dict(raw.get("spark_settings") or raw.get("duckdb_settings") or {}),
        models={k: (v or {}) for k, v in (raw.get("models") or {}).items()},
        strict=bool(raw.get("strict", False)),
    )
    if models_dir_override:
        cfg.models_dir = models_dir_override
    if db_path_override:
        cfg.db_path = db_path_override
    # Resolve relative paths against the project cwd.
    if cfg.models_dir and not os.path.isabs(cfg.models_dir):
        cfg.models_dir = os.path.join(cwd, cfg.models_dir)
    if cfg.macro_path and not os.path.isabs(cfg.macro_path):
        cfg.macro_path = os.path.join(cwd, cfg.macro_path)
    if cfg.db_path and re.match(r"[A-Za-z][\w+.-]*://", cfg.db_path):
        # joined with cwd below it would become a mangled local path,
        # and warehouse I/O (os.rename, open) is local-only anyway
        raise ArnabError(
            f"db_path {cfg.db_path!r} is a URI; the warehouse must be a "
            "local directory path"
        )
    if cfg.db_path and not os.path.isabs(cfg.db_path):
        # absolute, so the JVM (which resolves a relative path against
        # its own start dir) and Python's renames name the same dir
        cfg.db_path = os.path.abspath(os.path.join(cwd, cfg.db_path))
    return cfg
