"""bench.py harness behaviour that needs no benchmark data."""


def test_time_queries_records_a_failing_query_and_keeps_going(spark):
    import bench

    def ok(spark, sf_dir):
        return spark.range(3)

    def broken(spark, sf_dir):
        raise FileNotFoundError(f"{sf_dir}/missing.parquet\nsecond line")

    qs = {"a": ok, "broken": broken, "c": ok}
    times, failed = bench._time_queries(
        spark, qs, ["a", "broken", "c", "not_registered"], "/nowhere")
    assert set(times) == {"a", "c"}
    assert all(t >= 0 for t in times.values())
    assert failed == {
        "broken": "FileNotFoundError: /nowhere/missing.parquet"}
