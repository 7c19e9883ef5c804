"""The benchmark's workloads: the inputs each makes from the seed, what
one pass does, and how a pass's outputs are checked.

- ``country_export``: the reference's monthly job for one country.
  Each pass refreshes the transportation dump (``ensure_dump``) and
  AA's country cache (``OvertureReader.cache_country``), then exports
  the ``roads`` query with the divisions clip through the CLI's
  transform stage to geojsonseq, geoparquet and gpkg. All of its work
  is in sources, geo, transform and sinks; none is in operators.
- ``corpus_ops``: the registry's most job-heavy query,
  ``dedup_lifecycle_probe``, over a seeded documents table, written to
  parquet. It builds and appends its posting index on the first pass
  and only probes it afterwards. Geo and sinks do no work here.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs

RELEASE = "2026-05-15.0"
#: One fixed run timestamp, so every pass writes identical rows.
PROCESSED_DATE = "2026-05-15T00:00:00"

SIZES = {
    "full": {"segments": 4000, "docs": 1200},
    "tiny": {"segments": 240, "docs": 120},
}


@dataclass
class PassResult:
    rows_written: int = 0
    bytes_written: int = 0
    #: which way the lifecycle query went: "rebuild" or "probe"
    path: str | None = None
    #: output name → order-insensitive hash of its rows
    digests: dict[str, str] = field(default_factory=dict)
    #: output checks that failed, one line each
    errors: list[str] = field(default_factory=list)
    checks: int = 0
    #: per-layer numbers only the pass itself can see
    layer: dict[str, float] = field(default_factory=dict)


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Hadoop ``.crc`` and
    ``_SUCCESS`` markers excluded)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files if not f.startswith((".", "_"))
        )
    return total


def _value_hash(df) -> str:
    from overturelink_data_pipeline_spark.testing import value_hash

    return value_hash(df)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check(res: PassResult, ok: bool, message: str) -> None:
    res.checks += 1
    if not ok:
        res.errors.append(message)


class CountryExport:
    name = "country_export"

    def __init__(self, root: str, seed: int, size: str):
        self.src = os.path.join(root, "in", "overture")
        self.truth = inputs.overture_source(self.src, seed, SIZES[size]["segments"])
        self.input_rows = self.truth.input_rows

    def run_pass(self, spark, tracer, out: str, traced: bool) -> PassResult:
        from overturelink_data_pipeline_spark.cli import (
            _normalize_layers,
            _resolve_country,
        )
        from overturelink_data_pipeline_spark.plans.config import builtin_queries
        from overturelink_data_pipeline_spark.plans.models import (
            ClipStrategy,
            RunOptions,
        )
        from overturelink_data_pipeline_spark.sinks.geojson import write_geojsonseq
        from overturelink_data_pipeline_spark.sinks.geoparquet import (
            write_geoparquet,
            write_gpkg,
        )
        from overturelink_data_pipeline_spark.sources.dump import ensure_dump
        from overturelink_data_pipeline_spark.sources.fallback import OvertureReader

        query = builtin_queries()["roads"]
        aa = _resolve_country("AA")
        res = PassResult()
        with tracer.span("sources.dump"):
            self.dumped = ensure_dump(
                spark, self.src, os.path.join(out, "dump"), "transportation",
                ["segment"], release=RELEASE,
            )
        cache_root = os.path.join(out, "cache")
        with tracer.span("sources.cache_write"):
            self.cached = OvertureReader(
                spark, base_dir=self.src, release=RELEASE, cache_root=cache_root,
                backoff_base_s=0.0,
            ).cache_country(query, aa)
        reader = OvertureReader(spark, base_dir=self.src, release=RELEASE, backoff_base_s=0.0)
        with tracer.span("sources.read"):
            layers = reader.read(query, aa, RunOptions(clip=ClipStrategy.DIVISIONS))
        if traced:
            # plans are lazy: materialize at the geo boundary to time it,
            # and count what the bbox prefilter and the precise clip keep
            with tracer.span("geo.exec"):
                _noop(layers["roads"])
            with tracer.span("geo.count"):
                res.layer.update(self._clip_counts(spark, aa, layers["roads"]))
        with tracer.span("transform.build"):
            layers = _normalize_layers(layers, query, aa, processed_date=PROCESSED_DATE)
        roads = layers["roads"]
        if traced:
            with tracer.span("transform.exec"):
                _noop(roads)
        paths = self._paths(out)
        with tracer.span("sinks.geojsonseq"):
            write_geojsonseq(roads, paths["geojsonseq"])
        with tracer.span("sinks.geoparquet"):
            write_geoparquet(roads, paths["geoparquet"])
        with tracer.span("sinks.gpkg"):
            self.gpkg_rows = write_gpkg(roads, paths["gpkg"], layer="roads")
        return res

    @staticmethod
    def _paths(out: str) -> dict[str, str]:
        return {
            "geojsonseq": os.path.join(out, "roads.geojsonseq"),
            "geoparquet": os.path.join(out, "roads.parquet"),
            "gpkg": os.path.join(out, "roads.gpkg"),
        }

    def inspect(self, res: PassResult, out: str) -> None:
        """Measure and check a pass's outputs (outside the pass timer)."""
        paths = self._paths(out)
        for fmt, path in paths.items():
            res.layer[f"sinks.{fmt}_bytes"] = tree_bytes(path)
        res.layer["sources.cache_bytes"] = tree_bytes(os.path.join(out, "cache"))
        res.rows_written = (
            3 * self.gpkg_rows + self.cached.feature_count + self.dumped["rows"]["segment"]
        )
        res.bytes_written = tree_bytes(out)
        self._check(res, paths)

    def _clip_counts(self, spark, aa, clipped) -> dict[str, float]:
        from overturelink_data_pipeline_spark.geo.clip import (
            BBOX_BUFFER_DEG,
            bbox_predicate,
        )
        from overturelink_data_pipeline_spark.plans.compile import read_theme

        segments = read_theme(spark, self.src, "transportation", "segment")
        prefilter = bbox_predicate(*aa.bbox, buffer=BBOX_BUFFER_DEG)
        candidates = segments.filter(prefilter).count()
        kept = clipped.count()
        return {
            "geo.clip_candidates": candidates,
            "geo.clip_kept": kept,
            "geo.clip_keep_frac": kept / candidates if candidates else 0.0,
        }

    def _check(self, res: PassResult, paths: dict[str, str]) -> None:
        import pandas as pd

        from overturelink_data_pipeline_spark.sinks.geojson import validate_geojson
        from overturelink_data_pipeline_spark.sinks.gpkg import read_gpkg_layer

        want = self.truth.aa_roads
        got, need = self.dumped["rows"]["segment"], self.truth.rows["segment"]
        _check(res, got == need, f"dump: {got} rows, expected {need}")
        _check(res, self.cached.feature_count == len(want),
               f"cache AA: {self.cached.feature_count} rows, expected {len(want)}")

        lines = []
        for part in sorted(glob.glob(os.path.join(paths["geojsonseq"], "part-*"))):
            with open(part, encoding="utf-8") as f:
                lines.extend(line for line in f if line.strip())
        features = [json.loads(line) for line in lines]
        ids = sorted(f["properties"]["id"] for f in features)
        _check(res, ids == want, f"geojsonseq: {len(ids)} ids, expected {len(want)}")
        collection = paths["geojsonseq"] + ".collection.json"
        with open(collection, "w", encoding="utf-8") as f:
            json.dump({"type": "FeatureCollection", "features": features}, f)
        try:
            validate_geojson(collection, len(want))
            _check(res, True, "")
        except ValueError as exc:
            _check(res, False, f"geojsonseq: {exc}")

        table = pq.read_table(paths["geoparquet"]).to_pandas()
        _check(res, sorted(table["id"]) == want,
               f"geoparquet: {len(table)} ids, expected {len(want)}")
        res.digests["geoparquet"] = _value_hash(table)

        rows = read_gpkg_layer(paths["gpkg"], "roads")
        _check(res, self.gpkg_rows == len(want) and sorted(r["id"] for r in rows) == want,
               f"gpkg: {len(rows)} rows, expected {len(want)}")
        res.digests["gpkg"] = _value_hash(pd.DataFrame(rows).drop(columns=["fid"]))


class CorpusOps:
    name = "corpus_ops"
    QUERY = "dedup_lifecycle_probe"

    def __init__(self, root: str, seed: int, size: str):
        from overturelink_data_pipeline_spark.operators.dedup import INCR_DELTA_MIN

        self.corpus = os.path.join(root, "in", "corpus")
        self.warehouse = os.path.join(root, "warehouse")
        os.makedirs(self.corpus)
        docs = os.path.join(self.corpus, "documents.parquet")
        inputs.documents(docs, seed, SIZES[size]["docs"])
        self.input_rows = SIZES[size]["docs"]
        # The query appends an 80%-prefix copy (id + INCR_DELTA_MIN) of
        # every 7th doc and probes the odd copies against the rest; a
        # copy of a doc with 20+ tokens shares well over half its
        # 3-gram shingles with the original, so that pair must come back.
        table = pq.read_table(docs).to_pydict()
        self.must_match = sorted(
            (d + INCR_DELTA_MIN, d)
            for d, text in zip(table["doc_id"], table["text"])
            if d % 14 == 7 and len(text.split()) >= 20
        )

    def run_pass(self, spark, tracer, out: str, traced: bool) -> PassResult:
        from overturelink_data_pipeline_spark import registry
        from overturelink_data_pipeline_spark.operators import dedup
        from overturelink_data_pipeline_spark.operators.lifecycle import PostingIndex

        with contextlib.ExitStack() as stack:
            if traced:
                # the query drives its index internally: time the index's
                # public calls from outside
                for method in ("build", "append", "prepare_probe"):
                    stack.enter_context(tracer.wrapped(
                        PostingIndex, method, f"lifecycle.posting.{method}"
                    ))
            with tracer.span(f"ops.{self.QUERY}"):
                registry.QUERIES[self.QUERY](spark, self.corpus).write.parquet(
                    os.path.join(out, self.QUERY)
                )
        return PassResult(path=getattr(dedup, "LAST_LIFECYCLE_PATH", None))

    def inspect(self, res: PassResult, out: str) -> None:
        """Measure and check a pass's outputs (outside the pass timer)."""
        res.bytes_written = tree_bytes(out)
        res.layer["lifecycle.index_bytes"] = sum(
            tree_bytes(p) for p in glob.glob(os.path.join(self.warehouse, "dlp_index_*"))
        )
        probe = pq.read_table(os.path.join(out, self.QUERY)).to_pandas()
        res.rows_written = len(probe)
        res.digests[self.QUERY] = _value_hash(probe)
        pairs = set(zip(probe["new_id"], probe["match_id"]))
        missing = [p for p in self.must_match if p not in pairs]
        _check(res, bool(self.must_match) and not missing,
               f"{self.QUERY}: prefix-copy pairs missing: {missing[:5]}")


WORKLOADS = {w.name: w for w in (CountryExport, CorpusOps)}
