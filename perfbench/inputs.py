"""Seeded inputs for the benchmark, made from committed fixtures.

``fixtures/sf0.001`` and ``fixtures/sf0.01`` are verbatim copies of the
repo's deterministic test fixtures (TESTDATA.md; schemas in FIXTURES.md).
A seed reorders the rows of every table. Values, row counts and key
fan-outs stay the fixtures', so figures from different seeds stay
comparable; keys keep their values because models filter on them
(``o_orderkey < 40``, ``doc_id % 10 = 0``). The sf0.1-sized set is made the way ``tools/gen_scale.py``
makes its scale points, by that module: ten key-shifted copies of the
reordered sf0.01 set, and four copies of its embeddings (sf0.1 has 2,000
vectors, sf0.01 has 500).

Also makes copies of the ``examples/`` projects whose scan paths point
at the generated files.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq
import yaml

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")

#: size -> (fixture set, copies, copies of the embeddings)
SIZES = {
    "sf0.001": ("sf0.001", 1, 1),
    "sf0.1": ("sf0.01", 10, 4),
}

#: The scan paths the example models hard-code, e.g.
#: ``FROM '<dir>/sf0.001/orders.parquet'``.
_SCAN_PATH = re.compile(r"'[^']*/sf0\.001/(\w+)\.parquet'")


def reorder(seed: int, src: str, dest: str) -> None:
    """Copy every table of ``src`` to ``dest`` with its rows in a
    seeded order (one permutation per table, schemas unchanged)."""
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        table = pq.read_table(os.path.join(src, name))
        pq.write_table(table.take(rng.permutation(table.num_rows)), os.path.join(dest, name))


def write_inputs(seed: int, size: str, dest: str) -> int:
    """Write one input set under ``dest``; returns its total bytes."""
    fixture, copies, emb_copies = SIZES[size]
    if copies == 1:
        reorder(seed, os.path.join(FIXTURES, fixture), dest)
    else:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import gen_scale

        base, emb = f"{dest}.base", f"{dest}.emb"
        reorder(seed, os.path.join(FIXTURES, fixture), base)
        tables = tuple(n[:-len(".parquet")] for n in os.listdir(base))
        gen_scale.generate(base, dest, copies, tuple(t for t in tables if t != "embeddings"))
        gen_scale.generate(base, emb, emb_copies, ("embeddings",))
        os.replace(os.path.join(emb, "embeddings.parquet"), os.path.join(dest, "embeddings.parquet"))
        shutil.rmtree(base)
        shutil.rmtree(emb)
    return sum(os.path.getsize(os.path.join(dest, n)) for n in os.listdir(dest)
               if n.endswith(".parquet"))


def copy_project(src: str, dest: str, inputs: str, models: dict | None = None) -> str:
    """Copy one example project to ``dest`` with its scan paths pointed
    at ``inputs``; ``models`` entries override the config's per-model
    settings. Returns ``dest``."""
    shutil.rmtree(dest, ignore_errors=True)
    shutil.copytree(src, dest, ignore=shutil.ignore_patterns(
        "warehouse", "spark-warehouse", "dag.svg", "__pycache__"))
    model_dir = os.path.join(dest, "models")
    for name in os.listdir(model_dir):
        path = os.path.join(model_dir, name)
        with open(path, encoding="utf-8") as f:
            sql = f.read()
        new = _SCAN_PATH.sub(lambda m: f"'{inputs}/{m.group(1)}.parquet'", sql)
        if new != sql:
            with open(path, "w", encoding="utf-8") as f:
                f.write(new)
    if models:
        cfg_path = os.path.join(dest, "config.yaml")
        with open(cfg_path, encoding="utf-8") as f:
            cfg = yaml.safe_load(f) or {}
        cfg.setdefault("models", {})
        for mid, entry in models.items():
            cfg["models"][mid] = {**(cfg["models"].get(mid) or {}), **entry}
        with open(cfg_path, "w", encoding="utf-8") as f:
            yaml.safe_dump(cfg, f)
    return dest
