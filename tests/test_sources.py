"""Table-IO seam: parquet fallback now, Iceberg DDL contract for prod."""

from html_parser_spark.sources.tables import (
    EXTRACTED_DDL,
    TRANSCRIPTS_DDL,
    iceberg_available,
    read_table,
)


def test_parquet_fallback(spark):
    assert not iceberg_available(spark)
    df = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    assert df.count() > 0


def test_ddl_contract():
    # partition transforms that make the resume anti-join bucket-local
    assert "bucket(512, conv_id)" in TRANSCRIPTS_DDL
    assert "bucket(512, conv_id)" in EXTRACTED_DDL
    assert "days(ts)" in TRANSCRIPTS_DDL
    for ddl in (TRANSCRIPTS_DDL, EXTRACTED_DDL):
        assert "USING iceberg" in ddl


def test_multiformat_transcripts_roundtrip(spark, tmp_path_factory):
    """JSON and CSV landings produce the same extraction results as
    parquet (fixed schema, no inference)."""
    from pyspark.sql import functions as F

    from html_parser_spark.fixtures import ensure_transcripts
    from html_parser_spark.operators.pipeline import run_extraction
    from html_parser_spark.sources.tables import read_transcripts

    base = spark.read.parquet(ensure_transcripts(0.001)).limit(200)
    d = tmp_path_factory.mktemp("formats")
    jdir, cdir = str(d / "t.jsonl"), str(d / "t.csv")
    base.coalesce(1).write.mode("overwrite").json(jdir)
    base.coalesce(1).write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(cdir)

    want = {
        (r.conv_id, r.turn_idx): r.main_text
        for r in run_extraction(base, num_partitions=4).collect()
    }
    # CSV cannot round-trip NUL bytes (format limitation, documented in
    # read_transcripts) — compare CSV only on NUL-free turns
    nul_free = {
        (r.conv_id, r.turn_idx)
        for r in base.filter(~F.col("text").contains("\x00"))
        .select("conv_id", "turn_idx")
        .collect()
    }
    for path, fmt in ((jdir, "json"), (cdir, "csv")):
        df = read_transcripts(spark, path)
        got = {
            (r.conv_id, r.turn_idx): r.main_text
            for r in run_extraction(df, num_partitions=4).collect()
        }
        if fmt == "csv":
            got = {k: v for k, v in got.items() if k in nul_free}
            expected = {k: v for k, v in want.items() if k in nul_free}
        else:
            expected = want
        assert got == expected, fmt
        assert len(got) > 0


def test_fixture_caches_live_in_the_importing_tree(monkeypatch, tmp_path):
    """Without SPARK_GRAFT_DATA_DIR the generated transcripts and the golden
    parquets land in ``data/`` of the tree the package was imported from,
    so a second copy of the tree never reads or writes the first one's."""
    import os

    from html_parser_spark import fixtures, goldens

    tree = os.path.dirname(os.path.dirname(os.path.abspath(fixtures.__file__)))
    monkeypatch.delenv("SPARK_GRAFT_DATA_DIR", raising=False)
    data = os.path.join(tree, "data")
    assert fixtures.data_dir() == data
    for path in (fixtures.ensure_transcripts(0.001), goldens.gate_golden_parquet(0.001)):
        assert os.path.commonpath([path, data]) == data, path
    monkeypatch.setenv("SPARK_GRAFT_DATA_DIR", str(tmp_path))
    path = goldens.gate_golden_parquet(0.001)
    assert os.path.commonpath([path, str(tmp_path)]) == str(tmp_path)
    assert os.path.exists(path)
