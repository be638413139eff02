"""CLI surface (pdf_to_text_spark.run): both modes must produce the same
five-artifact contract — r6 review found --resume stopped at
extracted+metrics, so a crash-then-resume run silently never wrote
records/csv_docs/json_docs."""

import pytest


class _NoStopSpark:
    """Proxy the shared session into run.main, which stops its session in
    a finally — stopping the session-scoped fixture would cascade
    failures through every later test file (see test_bucketing, r6)."""

    def __init__(self, spark):
        self._spark = spark

    def __getattr__(self, name):
        if name == "stop":
            return lambda: None
        return getattr(self._spark, name)


@pytest.fixture()
def cli_env(spark, tmp_path, monkeypatch):
    from pdf_to_text_spark import config
    from pdf_to_text_spark.sources.pages import pages_df

    monkeypatch.setattr(
        config, "build_spark", lambda *a, **k: _NoStopSpark(spark)
    )
    inp = str(tmp_path / "pages")
    pages_df(spark, 60, num_partitions=2).write.parquet(inp)
    return inp, str(tmp_path / "out")


ARTIFACTS = ("extracted", "records", "csv_docs", "json_docs", "metrics")


def test_cli_default_mode_writes_five_artifacts(cli_env, spark):
    import pathlib

    from pdf_to_text_spark.run import main

    inp, out = cli_env
    assert main(["--input", inp, "--output", out]) == 0
    for name in ARTIFACTS:
        assert (pathlib.Path(out) / name).exists(), name
    assert spark.read.parquet(f"{out}/extracted").count() > 0


def test_cli_resume_mode_writes_same_contract_plus_lineage(cli_env, spark):
    import pathlib

    from pdf_to_text_spark.run import main

    inp, out = cli_env
    assert main(["--input", inp, "--output", out, "--resume"]) == 0
    for name in ARTIFACTS + ("metrics_lineage",):
        assert (pathlib.Path(out) / name).exists(), name
    # metrics/ schema identical across modes (metrics_rollup shape);
    # the snapshot-stamped rows live in metrics_lineage/ instead
    m = spark.read.parquet(f"{out}/metrics")
    assert "snapshot_id" not in m.columns
    ml = spark.read.parquet(f"{out}/metrics_lineage")
    assert "snapshot_id" in ml.columns
    # resume rerun is a no-op that still leaves all artifacts in place
    assert main(["--input", inp, "--output", out, "--resume"]) == 0
    assert spark.read.parquet(f"{out}/extracted/data/*/").count() > 0


def test_cli_modes_write_the_same_artifact_rows(cli_env, spark):
    """Both modes feed one artifact-write path: the records, csv_docs and
    json_docs rows they write are the same, compared as sorted rows."""
    from pdf_to_text_spark.run import main

    inp, out = cli_env
    assert main(["--input", inp, "--output", f"{out}/default"]) == 0
    assert main(["--input", inp, "--output", f"{out}/resume", "--resume"]) == 0
    for name in ("records", "csv_docs", "json_docs"):
        default, resume = (
            sorted(spark.read.parquet(f"{out}/{mode}/{name}").collect(), key=repr)
            for mode in ("default", "resume")
        )
        assert default and default == resume, name
