"""Cost model over lineage rows (A9)."""


def test_cost_metrics(spark):
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        evaluate as ev,
    )

    lin = spark.createDataFrame(
        [(0, 100, 2_000_000, 360_000.0), (1, 50, 4_000_000, 720_000.0)],
        "part_id int, n_rows long, bytes_out long, wall_ms double")
    got = {r.part_id: r for r in ev.cost_metrics(lin).collect()}
    # cost = measured wall seconds / 3600 x hourly rate
    for r in lin.collect():
        exp = round(r.wall_ms / 1000.0 / 3600.0 * ev.CPU_RATE_PER_HOUR, 8)
        assert abs(got[r.part_id].est_cost_usd - exp) < 1e-12
    assert got[0].est_cost_usd > 0
    assert got[1].est_cost_usd == 2 * got[0].est_cost_usd
    assert got[0].cost_per_row_usd > 0
