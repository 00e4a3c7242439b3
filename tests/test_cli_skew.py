"""CLI control plane (S11), cancellation (U6), salted skew join."""

import json

import pytest
from pyspark.sql import functions as F

from etl_load_spark.cli import cmd_validate, main
from etl_load_spark.operators.skew import salted_join


@pytest.fixture()
def spec_file(tmp_path):
    spec = {
        "jobId": "cli-job",
        "source": {"type": "MEMORY",
                   "details": {"rows": [{"a": 1}, {"a": 2}],
                               "schema": "a int"}},
        "destination": {"type": "MEMORY", "details": {"name": "cli_out"}},
        "mappings": [{"source": "a", "dest": "b", "destFieldType": "LONG"}],
        "steps": ["VALIDATE_SOURCE", "LOAD", "VALIDATE_LOAD"],
    }
    p = tmp_path / "job.json"
    p.write_text(json.dumps(spec))
    return str(p)


def test_cli_validate_ok(spec_file):
    out = cmd_validate(spec_file)
    assert out["valid"] and out["n_mappings"] == 1


def test_cli_validate_flags_unknown_types(tmp_path):
    p = tmp_path / "bad.json"
    for bad, spec in [
            ("GOPHER", {"source": {"type": "GOPHER", "details": {}}}),
            ("NO_SUCH_STAGE", {"source": {"type": "PARQUET", "details": {}},
                               "transformation": {"type": "NO_SUCH_STAGE"}}),
    ]:
        p.write_text(json.dumps({"jobId": "x", **spec}))
        out = cmd_validate(str(p))
        assert not out["valid"] and bad in out["problems"][0], out


def test_cli_run_end_to_end(spark, spec_file, capsys):
    # spark fixture keeps the session alive; cli reuses the active session
    rc = main(["run", spec_file, "--json"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["status"] == "COMPLETED"
    assert out["records_written"] == 2


def test_cancel_job_api(spark):
    """cancel_job cancels the tagged group; a subsequent action on the same
    session still works (cancellation is scoped to the group)."""
    from etl_load_spark.runner import cancel_job
    cancel_job(spark, "no-such-job")  # no-op cancel must not raise
    assert spark.range(10).count() == 10


def test_salted_join_matches_plain_join(spark):
    skewed = spark.range(0, 10000).select(
        (F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id")))
        .alias("k"), F.col("id").alias("payload"))
    lookup = spark.range(0, 500).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v"))
    plain = skewed.join(lookup, ["k"]).select("k", "payload", "v")
    salted = salted_join(skewed, lookup, ["k"]).select("k", "payload", "v")
    assert sorted(map(tuple, plain.collect())) \
        == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    skewed = spark.createDataFrame([(1, "a"), (99, "b")], "k int, payload string")
    lookup = spark.createDataFrame([(1, "x")], "k int, v string")
    got = {tuple(r) for r in salted_join(skewed, lookup, ["k"], how="left")
           .select("k", "payload", "v").collect()}
    assert got == {(1, "a", "x"), (99, "b", None)}


def test_salted_join_rejects_right(spark):
    df = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], how="right")


def test_cli_explain(spark, spec_file):
    from etl_load_spark.cli import cmd_explain
    out = cmd_explain(spec_file)
    assert out["job_id"] == "cli-job"
    assert "Physical Plan" in out["plan"]
    assert out["columns"] == ["b"]
