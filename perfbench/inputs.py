"""Seeded benchmark inputs, written with pyarrow so no Spark job is
spent (or timed) on generation.

Two input sets:

- an Overture-shaped hive source (transportation segments and
  divisions) with the schemas of ``geo/fixtures.py``'s makers and its
  three synthetic countries. Every segment sits inside one cell of the
  line arrangement drawn by country AA's concave polygon, at least
  ``MARGIN`` degrees from any of its edges, and is smaller than that
  margin, so whether AA's precise clip keeps it is known from the
  generator alone: ``SourceTruth`` carries the ids the export must hold;
- a ``documents`` table shaped like the engine's test corpus (a
  30-token vocabulary, 10-100 tokens per doc, five languages, 20
  sources, and every 20th doc a near copy of an earlier one).

The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Distance (degrees) every feature keeps from each edge of AA's polygon.
MARGIN = 0.1

#: AA's C-shape (geo/fixtures.py ``_country_polygon``, concave): the box
#: [0, 10]² minus the notch x > 3, 2.5 < y < 7.5.
_AA_XS = (0.0, 3.0, 10.0)
_AA_YS = (0.0, 2.5, 7.5, 10.0)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _in_aa(x: float, y: float) -> bool:
    inside_box = 0.0 < x < 10.0 and 0.0 < y < 10.0
    return inside_box and not (x > 3.0 and 2.5 < y < 7.5)


def _clear_of_aa_edges(x: float, y: float) -> bool:
    return all(abs(x - v) >= MARGIN for v in _AA_XS) and all(
        abs(y - v) >= MARGIN for v in _AA_YS
    )


def _anchor(rng: np.random.Generator, bbox) -> tuple[float, float]:
    while True:
        x = float(rng.uniform(bbox[0], bbox[2]))
        y = float(rng.uniform(bbox[1], bbox[3]))
        if _clear_of_aa_edges(x, y):
            return x, y


def _bbox(coords) -> dict:
    xs = [c[0] for c in coords]
    ys = [c[1] for c in coords]
    return {"xmin": min(xs), "xmax": max(xs), "ymin": min(ys), "ymax": max(ys)}


def _linestring(coords) -> bytes:
    return (
        b"\x01" + struct.pack("<II", 2, len(coords))
        + b"".join(struct.pack("<2d", x, y) for x, y in coords)
    )


@dataclass
class SourceTruth:
    """What the generator knows about a source: rows per type and the
    ids of the road segments AA's divisions clip must keep."""

    rows: dict[str, int]
    aa_roads: list[str]

    @property
    def input_rows(self) -> int:
        return sum(self.rows.values())


def _write(table_rows: list, spark_schema, path: str) -> None:
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(spark_schema)
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(zip(*table_rows), schema)],
        schema=schema,
    )
    pq.write_table(
        table, os.path.join(path, "part-00000.zstd.parquet"), compression="zstd"
    )


def overture_source(root: str, seed: int, n_segments: int) -> SourceTruth:
    """Write ``root/theme=transportation`` and ``root/theme=divisions``
    and return their truth."""
    from overturelink_data_pipeline_spark.geo import fixtures as FX

    rng = np.random.default_rng([seed, 1])
    road_classes = ["motorway", "primary", "secondary", "residential", "service"]
    segs, aa_roads = [], []
    for i in range(n_segments):
        # a short random walk, extent < MARGIN / 2, in one of the three
        # countries' boxes (they overlap, as in geo/fixtures.py)
        x, y = _anchor(rng, FX.COUNTRIES[i % 3]["bbox"])
        pts = [(x, y)]
        for _ in range(int(rng.integers(1, 6))):
            px, py = pts[-1]
            pts.append((px + float(rng.uniform(-0.008, 0.008)),
                        py + float(rng.uniform(-0.008, 0.008))))
        sid = f"seg{seed}_{i:06d}"
        segs.append((
            sid,
            {"primary": f"Street {i}", "common": [("en", f"Street {i} EN")]},
            road_classes[int(rng.integers(len(road_classes)))],
            "road",
            int(rng.integers(0, 6)),
            _bbox(pts),
            _linestring(pts),
        ))
        if _in_aa(x, y):
            aa_roads.append(sid)
    _write(segs, FX.make_segments(1)[1], f"{root}/theme=transportation/type=segment")
    divisions, div_schema = FX.make_divisions()
    _write(divisions, div_schema, f"{root}/theme=divisions/type=division_area")
    return SourceTruth(
        rows={"segment": len(segs), "division_area": len(divisions)},
        aa_roads=sorted(aa_roads),
    )


def documents(path: str, seed: int, n_docs: int) -> None:
    """Write ``documents.parquet``; every 20th doc repeats an earlier
    doc's text, with one token appended, in the same language."""
    rng = np.random.default_rng([seed, 2])
    ids, texts, langs = [], [], []
    for doc_id in range(n_docs):
        if doc_id % 20 == 19:
            j = int(rng.integers(0, doc_id))
            text = texts[j] + " " + VOCAB[int(rng.integers(len(VOCAB)))]
            lang = langs[j]
        else:
            n = int(rng.integers(10, 101))
            text = " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), size=n))
            lang = str(rng.choice(LANGS, p=LANG_P))
        ids.append(doc_id)
        texts.append(text)
        langs.append(lang)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path, compression="zstd")
