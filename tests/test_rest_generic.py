"""REST source (injected transport), generic batched sink (injected
sender), primary-key discovery, streaming schema conformance."""

import json

import pytest
from pyspark.sql import functions as F

from gobblin_spark import schema as S
from gobblin_spark.sinks.generic import write_batched
from gobblin_spark.sources import rest


def make_fake_transport():
    """Deterministic fake API: records are {'rid': i, 'name': 'n<i>'}.
    Built as a closure so cloudpickle ships it by value to workers."""
    import json as _json

    def fake_transport(offset: int, limit: int) -> str:
        recs = [{"rid": i, "name": f"n{i}"} for i in range(offset, offset + limit)]
        return _json.dumps({"records": recs})

    return fake_transport


def test_page_manifest_covers_range(spark):
    m = rest.page_manifest(spark, total_records=95, page_size=20)
    rows = sorted((r.page_no, r.offset, r.limit) for r in m.collect())
    assert rows == [(0, 0, 20), (1, 20, 20), (2, 40, 20), (3, 60, 20), (4, 80, 15)]


def test_read_rest_api_end_to_end(spark):
    out = rest.read_rest_api(
        spark, total_records=95, page_size=20,
        transport=make_fake_transport(), record_schema="rid LONG, name STRING",
    )
    got = {(r.rid, r.name) for r in out.collect()}
    assert got == {(i, f"n{i}") for i in range(95)}


def test_fetch_retry_and_error_isolation(spark):
    ft = make_fake_transport()

    def flaky(offset, limit):
        if offset == 20:
            raise IOError("page down")
        return ft(offset, limit)

    pages = rest.fetch_pages(
        rest.page_manifest(spark, 60, 20), flaky, retries=2, backoff_sec=0.01
    ).collect()
    by_page = {r.page_no: r for r in pages}
    assert by_page[1].error and by_page[1].attempts == 2
    assert by_page[0].error is None and by_page[2].error is None


def test_read_rest_api_strict_fails_on_lost_page(spark):
    """Audit r9: a page that exhausts its retries must FAIL the strict
    (default) end-to-end read — the old behavior silently dropped it
    and returned an incomplete dataset. strict=False keeps the
    drop-and-continue policy as an explicit opt-in; retries=0 is
    rejected (it produced a payload-less 'success' row)."""
    ft = make_fake_transport()

    def flaky(offset, limit):
        if offset == 20:
            raise IOError("page down")
        return ft(offset, limit)

    with pytest.raises(Exception, match="failed after retries"):
        rest.read_rest_api(
            spark, total_records=60, page_size=20, transport=flaky,
            record_schema="rid LONG, name STRING",
        ).collect()
    loose = rest.read_rest_api(
        spark, total_records=60, page_size=20, transport=flaky,
        record_schema="rid LONG, name STRING", strict=False,
    )
    got = {r.rid for r in loose.collect()}
    assert got == set(range(0, 20)) | set(range(40, 60))
    with pytest.raises(ValueError, match="retries"):
        rest.fetch_pages(rest.page_manifest(spark, 60, 20), ft, retries=0)


def test_http_json_transport_over_loopback(spark):
    """The real HTTP transport against a loopback server: the
    {offset}/{limit} URL template, the headers sent and the UTF-8 body,
    directly and through the distributed page fetch."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    seen = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            seen.append((self.path, self.headers.get("X-Api-Key")))
            off, lim = int(q["offset"][0]), int(q["limit"][0])
            recs = [{"rid": i, "name": f"n\u00e9{i}"}
                    for i in range(off, off + lim)]
            body = json.dumps({"records": recs}, ensure_ascii=False)
            data = body.encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        port = server.server_address[1]
        fetch = rest.http_json_transport(
            f"http://127.0.0.1:{port}/items?offset={{offset}}&limit={{limit}}",
            timeout_sec=10, headers={"X-Api-Key": "k1"})
        body = fetch(20, 2)
        assert seen == [("/items?offset=20&limit=2", "k1")]
        assert json.loads(body) == {"records": [
            {"rid": 20, "name": "n\u00e920"}, {"rid": 21, "name": "n\u00e921"}]}

        df = rest.read_rest_api(spark, 25, 10, fetch, "rid INT, name STRING")
        rows = sorted((r.rid, r.name) for r in df.collect())
        assert rows == [(i, f"n\u00e9{i}") for i in range(25)]
        assert sorted(p for p, _ in seen[1:]) == [
            "/items?offset=0&limit=10", "/items?offset=10&limit=10",
            "/items?offset=20&limit=5"]
    finally:
        server.shutdown()
        server.server_close()
        thread.join(10)
    assert not thread.is_alive()


def test_incremental_rest_query():
    params = rest.incremental_rest_query({"q": "all"}, "updated", None, "2024-02-01")
    assert params == {"q": "all", "updated__lte": "2024-02-01"}
    params2 = rest.incremental_rest_query({}, "id", 10, 20)
    assert params2 == {"id__gt": "10", "id__lte": "20"}


def test_write_batched_sender(spark, tmp_path):
    """Batched delivery through a per-partition sender; all rows arrive
    in <= batch_size chunks."""
    sink_dir = tmp_path / "sunk"
    sink_dir.mkdir()

    def sender_factory():
        import json as _json
        import uuid as _uuid

        def send(records):
            p = sink_dir / f"{_uuid.uuid4().hex}.json"
            p.write_text(_json.dumps(records))

        return send

    df = spark.range(250).select(F.col("id"), (F.col("id") * 2).alias("v"))
    res = write_batched(df, sender_factory, batch_size=40).collect()
    assert all(r.error is None for r in res)
    assert sum(r.rows_sent for r in res) == 250
    delivered = []
    for f in sink_dir.iterdir():
        batch = json.loads(f.read_text())
        assert len(batch) <= 40
        delivered.extend(batch)
    assert {(r["id"], r["v"]) for r in delivered} == {(i, 2 * i) for i in range(250)}


def test_write_batched_retry_exhaustion(spark):
    def sender_factory():
        def send(records):
            raise ConnectionError("endpoint down")

        return send

    res = write_batched(spark.range(10), sender_factory,
                        batch_size=100, retries=2, backoff_sec=0.01).collect()
    assert all(r.error and r.rows_sent == 0 and r.attempts == 2 for r in res)


def test_primary_key_discovery():
    sch = {"type": "record", "name": "R", "primarykey": ["k1", "k2"],
           "fields": [{"name": "k1", "type": "long"}]}
    assert S.primary_key_fields(sch) == ["k1", "k2"]
    sch2 = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long", "doc": "the primaryKey of this table"},
        {"name": "v", "type": "int"},
    ]}
    assert S.primary_key_fields(sch2) == ["id"]
    assert S.primary_key_fields({"type": "record", "name": "R", "fields": []}) == []


def test_streaming_schema_conformance(spark, tmp_path):
    """Two epochs with different producer schemas land as ONE schema."""
    import datetime as dt

    from gobblin_spark import state, streaming
    from pyspark.sql import types as T

    t0 = dt.datetime(2024, 1, 1)
    indir = tmp_path / "in"
    spark.createDataFrame([(1, t0)], "id INT, ts TIMESTAMP_NTZ") \
        .coalesce(1).write.parquet(str(indir))

    target = T.StructType([
        T.StructField("id", T.LongType(), True),           # promoted
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("tag", T.StringType(), True),        # new nullable
    ])
    spec = streaming.IngestSpec(final_dir=str(tmp_path / "out"), ts_col="ts",
                                target_schema=target)
    store = state.WatermarkStore(spark, str(tmp_path / "wm"))
    stream = streaming.file_stream(spark, str(indir), schema="id INT, ts TIMESTAMP_NTZ")
    streaming.run_ingest_blocking(stream, spec, store, str(tmp_path / "ck"))
    back = spark.read.parquet(str(tmp_path / "out"))
    # gobblin_epoch is the runner's idempotent-replay partition column
    assert dict(back.dtypes) == {"id": "bigint", "ts": "timestamp_ntz",
                                 "tag": "string", "gobblin_epoch": "string"}
    assert back.first().tag is None


def test_write_batched_rejects_zero_retries(spark):
    """Audit r9: retries=0 skipped the attempt loop and reported every
    chunk as sent without calling the sender."""
    df = spark.createDataFrame([(1,), (2,)], "v int")
    with pytest.raises(ValueError, match="retries"):
        write_batched(df, lambda: (lambda recs: None), retries=0)


def test_none_returning_transport_is_an_error(spark):
    """Audit r10: a transport that RETURNS None (instead of raising)
    must surface as a page error — strict mode then fails the read
    instead of silently dropping the page's records."""
    import pytest

    from gobblin_spark.sources.rest import fetch_pages, page_manifest, read_rest_api

    rows = fetch_pages(page_manifest(spark, 10, 5),
                       lambda off, lim: None).collect()
    assert all(r.error == "transport returned None" for r in rows)
    with pytest.raises(Exception, match="transport returned None"):
        read_rest_api(spark, 10, 5, lambda off, lim: None,
                      "id long").collect()
