"""REST/paginated-API source: distributed page fetching with an
injectable transport.

Reference mapping (all relative to /root/reference/):
- RestApiSource / RestApiExtractor (gobblin-modules/gobblin-rest-service/
  ... and gobblin-salesforce/.../SalesforceExtractor.java): paginated
  pulls against an HTTP API — the source plans work units over the
  record range, each extractor pulls its pages with retry/backoff.
- QueryBasedSource partitioning (QueryBasedSource.java:216): the page
  space is split into work units; here one manifest ROW per page, so
  fan-out is a DataFrame and fetching runs in executors.

Spark design: the driver never fetches data — it builds a slim page
manifest (page_no, offset, limit); ``fetch_pages`` runs the transport
inside ``mapInPandas`` tasks with per-page retry + backoff, yielding
raw JSON strings that ``parse_json_column``/``from_json`` decode
JVM-side. The transport is a plain callable ``(offset, limit) -> str``
so deployments plug in requests/urllib with auth, and tests inject a
fake — the sandbox has no network, which gates the default transport,
not the operator.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def page_manifest(
    spark: SparkSession,
    total_records: int,
    page_size: int,
    tasks: int | None = None,
) -> DataFrame:
    """The work-unit plan: one row per page (RestApiSource's work-unit
    creation over the record range)."""
    pages = (total_records + page_size - 1) // page_size
    df = spark.range(pages).select(
        F.col("id").alias("page_no"),
        (F.col("id") * page_size).alias("offset"),
        F.least(F.lit(page_size),
                F.lit(total_records) - F.col("id") * page_size).alias("limit"),
    )
    return df.repartition(tasks) if tasks else df


def http_json_transport(url_template: str, timeout_sec: int = 30,
                        headers: dict | None = None):
    """Default transport: GET ``url_template.format(offset=, limit=)``
    with ``headers``, returning the body decoded as UTF-8."""

    def fetch(offset: int, limit: int) -> str:
        import urllib.request

        req = urllib.request.Request(
            url_template.format(offset=offset, limit=limit),
            headers=headers or {},
        )
        with urllib.request.urlopen(req, timeout=timeout_sec) as resp:
            return resp.read().decode("utf-8")

    return fetch


def fetch_pages(
    manifest: DataFrame,
    transport: Callable[[int, int], str],
    retries: int = 3,
    backoff_sec: float = 0.5,
) -> DataFrame:
    """Execute the page plan: each task fetches its pages with retry +
    exponential backoff (RestApiExtractor's retry loop), emitting
    (page_no, payload, attempts, error). Decode with ``from_json``
    downstream — parsing stays JVM-side."""

    if retries < 1:
        # retries=0 would skip the attempt loop entirely and emit a
        # (payload=None, error=None) row — a silent "success" that
        # downstream json-parsing drops without a trace (audit r9)
        raise ValueError("retries must be >= 1 (attempts, not re-tries)")

    def run(batches):
        import time as _time

        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                payload, err, attempt = None, None, 0
                for attempt in range(1, retries + 1):
                    try:
                        payload = transport(int(r.offset), int(r.limit))
                        err = None
                        break
                    except Exception as ex:  # noqa: BLE001 - retry loop
                        err = f"{type(ex).__name__}: {ex}"
                        if attempt < retries:
                            _time.sleep(backoff_sec * (2 ** (attempt - 1)))
                if payload is None and err is None:
                    # a transport that RETURNS None (instead of
                    # raising) would otherwise record a clean row
                    # whose null payload from_json/explode silently
                    # drop — the same no-signal data loss the strict
                    # mode exists to prevent (audit r10)
                    err = "transport returned None"
                out.append((int(r.page_no), payload, attempt, err))
            yield pd.DataFrame(
                out, columns=["page_no", "payload", "attempts", "error"]
            )

    return manifest.mapInPandas(
        run, "page_no long, payload string, attempts int, error string"
    )


def read_rest_api(
    spark: SparkSession,
    total_records: int,
    page_size: int,
    transport: Callable[[int, int], str],
    record_schema: str,
    records_path: str = "records",
    tasks: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """End-to-end paginated pull: plan → distributed fetch → JVM-side
    JSON decode → one row per record.

    ``strict=True`` (default): a page that exhausted its retries FAILS
    the job with that page's error — lazily, via ``raise_error`` in
    the projection, so no extra action runs. The old behavior (drop
    failed pages and return the rest — INCOMPLETE data with no
    signal, audit r9) is an explicit ``strict=False`` opt-in; use
    ``fetch_pages`` directly when you want the per-page error column
    for a custom policy."""
    pages = fetch_pages(page_manifest(spark, total_records, page_size, tasks),
                        transport)
    if strict:
        payload = F.when(
            F.col("error").isNotNull(),
            F.raise_error(F.concat(
                F.lit("page "), F.col("page_no").cast("string"),
                F.lit(" failed after retries: "), F.col("error"))),
        ).otherwise(F.col("payload"))
        ok = pages.select("page_no", payload.alias("payload"))
    else:
        ok = pages.filter(F.col("error").isNull())
    parsed = ok.select(
        "page_no",
        F.from_json(
            F.col("payload"),
            f"{records_path} ARRAY<STRUCT<{record_schema}>>",
        ).alias("_j"),
    )
    return parsed.select(
        "page_no", F.explode(F.col(f"_j.{records_path}")).alias("_r")
    ).select("page_no", "_r.*")


def incremental_rest_query(base_params: dict, wm_field: str, lwm, hwm) -> dict:
    """SalesforceExtractor-style incremental predicate as query params
    (the REST twin of ``jdbc.watermark_predicate``)."""
    params = dict(base_params)
    if lwm is not None:
        params[f"{wm_field}__gt"] = json.dumps(lwm, default=str).strip('"')
    params[f"{wm_field}__lte"] = json.dumps(hwm, default=str).strip('"')
    return params
