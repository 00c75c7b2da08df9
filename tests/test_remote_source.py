"""read_parquet over HTTP — the reference's demo model shape
(reference: examples/basic/source_orders.sql:2 reads an https parquet).
Served from a real local HTTP server to exercise the fetch+cache path
end to end."""

import http.server
import shutil
import socketserver
import threading

import pytest

import os
import stat

from arnab_spark._dialect_base import _remote_cache_base
from arnab_spark.dialect import transpile_statement


@pytest.fixture()
def http_root(tmp_path):
    shutil.copy("/root/testdata/sf0.001/region.parquet", tmp_path / "region.parquet")
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        yield f"http://127.0.0.1:{port}"
        httpd.shutdown()


def test_http_read_parquet_model(spark, http_root):
    cache = _remote_cache_base()
    shutil.rmtree(cache, ignore_errors=True)
    sql = transpile_statement(
        f"SELECT count() AS n FROM read_parquet('{http_root}/region.parquet')"
    )
    # fetch lands in the per-user 0700 ownership-verified cache (the
    # world-shared /tmp path was the round-5 advice's poisoning class)
    cache = _remote_cache_base()
    assert f"parquet.`{cache}/" in sql and "count(*)" in sql
    st = os.lstat(cache)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    assert spark.sql(sql).collect()[0].n == 5
    # second transpile hits the cache (no new fetch needed — same path)
    sql2 = transpile_statement(
        f"SELECT count() AS n FROM read_parquet('{http_root}/region.parquet')"
    )
    assert sql2 == sql
