"""The flagship distributed operator: pages -> extraction results.

One wide stage: scan -> salted shuffle -> mapInPandas(golden extraction over
Arrow batches) -> native select. The UDF streams (iterator of batches, never
materializes a partition) and the per-document parse loop runs inside each
Arrow batch — no per-row Python UDFs anywhere (north star).

Byte-identity: this operator calls golden.extract_page — the same pure
function pytest runs sequentially driver-side — so the distributed result is
bytewise identical per url by construction; tests assert it stays that way
across partition counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import golden
from ..plans.skew import salted_repartition

RESULTS_SCHEMA = (
    "url string, title string, byline string, pub_date string, "
    "body_text string, title_conf double, byline_conf double, "
    "date_conf double, body_conf double, overall_confidence double, "
    "status string, error_message string, n_nodes int, n_blocks_kept int, "
    "n_blocks_dropped int, parse_failures int, body_span_start long, "
    "body_span_len long, n_html_bytes long, part_id int"
)


def extract_pages(pages: DataFrame, *, num_partitions: int | None = None,
                  salted: bool = True,
                  passthrough: list[tuple[str, str]] | None = None,
                  with_timings: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, ...) -> results (FIXTURES.md §5 schema
    + part_id for lineage). `passthrough` = [(col, sql_type), ...] columns
    copied verbatim from input to output (avoids a join-back shuffle when the
    caller needs e.g. a stable checkpoint partition id alongside results).

    `with_timings` appends a measured `wall_ms` column — real per-document
    extraction wall time captured inside the UDF (the A8 analogue of the
    reference's per-document stage ms, executable.py:92-96, ocr.py:624-639;
    ~1us perf_counter overhead per doc). Off by default so the flagship
    result schema stays stable."""
    import pandas as pd  # noqa: PLC0415 — ships to workers

    passthrough = passthrough or []
    if num_partitions is None:
        num_partitions = pages.sparkSession.sparkContext.defaultParallelism
    df = pages.select("url", "html", *[c for c, _ in passthrough])
    if salted:
        df = salted_repartition(df, num_partitions)
    schema = (RESULTS_SCHEMA
              + (", wall_ms double" if with_timings else "")
              + "".join(f", {c} {t}" for c, t in passthrough))

    def run(batches):
        from time import perf_counter  # noqa: PLC0415

        from pyspark import TaskContext  # noqa: PLC0415

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            if with_timings:
                rows, ms = [], []
                for u, h in zip(pdf["url"], pdf["html"]):
                    t0 = perf_counter()
                    rows.append(golden.extract_page(u, h))
                    ms.append((perf_counter() - t0) * 1000.0)
            else:
                rows = [golden.extract_page(u, h)
                        for u, h in zip(pdf["url"], pdf["html"])]
            out = pd.DataFrame(rows, columns=golden.RESULT_FIELDS)
            out["n_html_bytes"] = [
                len(h) if h is not None else 0 for h in pdf["html"]
            ]
            out["part_id"] = pid
            if with_timings:
                out["wall_ms"] = ms
            for c, _ in passthrough:
                out[c] = pdf[c].to_numpy()
            yield out

    return df.mapInPandas(run, schema=schema)
