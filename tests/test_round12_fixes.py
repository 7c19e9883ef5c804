"""Round-12 regression pins: the VERDICT r11 ask-#3 stamp gate and the
ADVICE r11 hardening items (cache fast-path type parity, gpkg fid
message matching via the streaming path)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_bench_stamp_is_opt_in(monkeypatch):
    """VERDICT r11 ask #3: bench.py must never round-stamp an artifact
    unless explicitly asked — a judge/driver bench run silently created
    BENCH_LOCAL_r12.json last round. --stamp or SPARK_GRAFT_STAMP=1
    opts in; default (and '0') refuse."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    monkeypatch.delenv("SPARK_GRAFT_STAMP", raising=False)
    assert bench._stamp_requested([]) is False
    assert bench._stamp_requested(["--stamp"]) is True
    monkeypatch.setenv("SPARK_GRAFT_STAMP", "1")
    assert bench._stamp_requested([]) is True
    monkeypatch.setenv("SPARK_GRAFT_STAMP", "0")
    assert bench._stamp_requested([]) is False
    monkeypatch.setenv("SPARK_GRAFT_STAMP", "")
    assert bench._stamp_requested([]) is False


def test_cache_fast_path_requires_atomic_type(spark, tmp_path):
    """ADVICE r11: the footer fast path must not wave through a filter
    whose root column EXISTS in the cache but with a complex type — a
    cache written from a transformed frame can diverge from the raw
    schema, and name-only presence would serve empty-on-unknown rows
    as a 'hit' where the raw tier resolves. Divergent type → the
    analysis probe decides → cache MISS, resolution falls through."""
    from overturelink_data_pipeline_spark.geo import fixtures as FX
    from overturelink_data_pipeline_spark.operators.pipeline import (
        fixture_base_dir,
    )
    from overturelink_data_pipeline_spark.plans.config import builtin_queries
    from overturelink_data_pipeline_spark.plans.models import (
        Country,
        Query,
        RunOptions,
    )
    from overturelink_data_pipeline_spark.sources import cache as cache_mod
    from overturelink_data_pipeline_spark.sources.fallback import OvertureReader

    c = FX.COUNTRIES[0]
    country = Country(
        name=c["name"], iso2=c["iso2"], iso3=c["iso3"],
        region=c["region"], bbox=tuple(c["bbox"]),
    )
    reader = OvertureReader(
        spark,
        base_dir=fixture_base_dir(spark),
        release="2026-05-15.0",
        cache_root=str(tmp_path / "cache"),
        backoff_base_s=0.0,
    )
    base_q = builtin_queries()["places"]
    reader.cache_country(base_q, country)
    path = cache_mod.cache_path(
        str(tmp_path / "cache"), "2026-05-15.0", country.iso2,
        base_q.theme, base_q.type,
    )
    # sanity: on the pristine cache the scalar filter IS a hit
    q = Query(
        name=base_q.name, theme=base_q.theme, type=base_q.type,
        filter="category = 'education'",
    )
    assert reader._from_cache(q, country, RunOptions()) is not None

    # mutate the cached entry: same column NAME, complex type (struct)
    cached = spark.read.parquet(path).localCheckpoint()
    drifted = cached.withColumn(
        "category", F.struct(F.col("category").alias("primary"))
    )
    drifted.write.mode("overwrite").parquet(path)
    # the sidecar survives the overwrite? cache meta lives NEXT to the
    # parquet dir — re-check it still reads as present
    assert cache_mod.cached_schema(spark, path) is not None
    field = {f.name: f for f in cache_mod.cached_schema(spark, path).fields}
    assert field["category"].dataType.typeName() == "struct"

    # scalar comparison over the now-struct column: the old fast path
    # said resolvable=True (name present, no dot); the type-parity gate
    # sends it to the analysis probe, which reads unresolvable → MISS
    assert reader._from_cache(q, country, RunOptions()) is None


def test_gpkg_fid_translation_matches_full_message(spark, tmp_path):
    """The duplicate-fid translation keys on the full sqlite shape
    ('UNIQUE constraint failed' + '.fid' suffix), not a bare 'fid'
    substring — a layer NAME containing 'fid' must still translate
    correctly (the PK constraint catches the duplicate)."""
    from overturelink_data_pipeline_spark.sinks.gpkg import write_gpkg

    dup = spark.createDataFrame([(1, "a"), (1, "b")], "fid long, v string")
    p = str(tmp_path / "fidlayer.gpkg")
    with pytest.raises(ValueError, match="duplicate fid"):
        write_gpkg(dup, p, layer="confidence_fidelity")


def test_pipeline_geo_text_corpus_staged_parity(spark, sf_dir):
    """Local replica of the driver gate for the STAGED r13 candidate
    (geo+text composite, VERDICT r11 ask #5b): Spark frame vs its
    DuckDB oracle, same compare as CORRECTNESS_r{N}.json."""
    from overturelink_data_pipeline_spark import testing
    from overturelink_data_pipeline_spark.operators.geospatial import (
        PIPELINE_GEO_TEXT_CORPUS_ORACLE,
        pipeline_geo_text_corpus,
    )

    con = testing.duckdb_connect(sf_dir)
    oracle = con.execute(PIPELINE_GEO_TEXT_CORPUS_ORACLE).fetchdf()
    res = testing.compare(
        "pipeline_geo_text_corpus",
        pipeline_geo_text_corpus(spark, sf_dir),
        oracle,
    )
    assert res.ok, res


def test_canonical_url_edge_cases(spark):
    """Unit pins for functions/urls.py beyond the fixture's shapes:
    non-default ports survive, 'www' only strips as a whole LEADING
    label, root slash, multiple kept params, and the documented
    single-pass utm contract (two ADJACENT utm params keep the second)."""
    from overturelink_data_pipeline_spark.functions.urls import (
        canonical_url,
        registered_domain_2label,
        url_host,
    )

    cases = [
        # (raw, expected canonical)
        ("HTTPS://WWW.Foo.COM:443/a/b/#x", "https://foo.com/a/b"),
        ("http://foo.com:80/a", "http://foo.com/a"),
        ("http://foo.com:8080/a", "http://foo.com:8080/a"),  # kept
        ("https://foo.com:4430/a", "https://foo.com:4430/a"),  # NOT :443
        ("http://xwww.foo.com/a", "http://xwww.foo.com/a"),  # not a label
        ("http://www.foo.com", "http://www.foo.com".replace("www.", "")),
        ("http://foo.com/", "http://foo.com"),
        ("http://foo.com/a?x=1&y=2#frag", "http://foo.com/a?x=1&y=2"),
        ("http://foo.com/a?utm_s=1", "http://foo.com/a"),
        ("http://foo.com/a?utm_s=1&x=2", "http://foo.com/a?x=2"),
        ("http://foo.com/a?x=2&utm_s=1", "http://foo.com/a?x=2"),
        ("http://foo.com/a/?utm_s=1", "http://foo.com/a"),
        # adjacent-utm runs collapse in one application (the run
        # pattern), so ANY count of consecutive trackers is removed —
        # a per-param pattern would diverge between replace-all and
        # replace-first dialects at four adjacent
        ("http://foo.com/a?utm_a=1&utm_b=2", "http://foo.com/a"),
        ("http://foo.com/a?utm_a=1&utm_b=2&utm_c=3", "http://foo.com/a"),
        ("http://foo.com/a?utm_a=1&utm_b=2&utm_c=3&utm_d=4&x=9",
         "http://foo.com/a?x=9"),
        # two SEPARATED runs
        ("http://foo.com/a?utm_a=1&x=1&utm_b=2&utm_c=3&y=2",
         "http://foo.com/a?x=1&y=2"),
        ("HTTP://User.Host.ORG/CaseKept?Q=Vv", "http://user.host.org/CaseKept?Q=Vv"),
        # the slash-before-query rule is anchored to the path→query
        # boundary: a literal '/?' INSIDE the query value must survive
        # (an unanchored rule corrupted it and diverged between
        # replace-all and replace-first dialects — review r12)
        ("http://foo.com/a/?x=1/?y", "http://foo.com/a?x=1/?y"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    for (raw, want), c in zip(cases, got):
        assert c == want, (raw, c, want)

    hosts = spark.createDataFrame(
        [("https://a.b.example.org:4430/x",)], "c string"
    ).select(url_host(F.col("c")).alias("h"))
    h = hosts.first()["h"]
    assert h == "a.b.example.org"
    d = hosts.select(registered_domain_2label(F.col("h")).alias("d")).first()["d"]
    assert d == "example.org"
