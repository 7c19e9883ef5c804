"""Plan-input models (reference domain/models.py:29-67, enums.py:18-21,
config/countries.py:13-30).

Plain dataclasses — these are driver-side constants steering plan
construction, never shipped to executors (except the country bbox and
polygon bytes, which ride in UDF closures as broadcast-sized values).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from enum import Enum


class ClipStrategy(str, Enum):
    """Reference domain/enums.py:18-21 — precise polygon clip vs fast
    bbox clip."""

    DIVISIONS = "divisions"
    BBOX = "bbox"


@dataclass(frozen=True)
class Query:
    """One entry of queries.yml (reference domain/models.py:29-56).

    ``filter`` / ``building_filter`` are strings in the reference's
    filter dialect — a strict subset of Spark SQL, so ``F.expr`` parses
    them directly (kills the reference's hand parser, source.py:74-152).
    """

    name: str
    theme: str
    type: str
    filter: str | None = None
    building_filter: str | None = None
    geometry_split: bool = False
    sector_title: str | None = None
    sector_tag: str | None = None

    @property
    def is_multilayer(self) -> bool:
        """Places query with a building_filter → dual-theme conjunction
        (J2, reference source.py:509-586)."""
        return self.theme == "places" and self.building_filter is not None


@dataclass(frozen=True)
class RunOptions:
    """Reference domain/models.py:59-67."""

    clip: ClipStrategy = ClipStrategy.DIVISIONS
    limit: int | None = None


@dataclass(frozen=True)
class Country:
    """Registry row (reference config/countries.py:13-30): bbox is
    (xmin, ymin, xmax, ymax) in EPSG:4326."""

    name: str
    iso2: str
    iso3: str
    region: str
    bbox: tuple[float, float, float, float]

    @classmethod
    def from_dict(cls, d: dict) -> Country:
        return cls(
            name=d["name"],
            iso2=d["iso2"],
            iso3=d["iso3"],
            region=d.get("region", ""),
            bbox=tuple(float(x) for x in d["bbox"]),
        )


def load_countries(path: str) -> dict[str, Country]:
    """Load a countries.json-shaped registry, keyed by ISO2 (reference
    data/countries.json: list of {name, iso2, iso3, region, bbox})."""
    with open(path) as f:
        rows = json.load(f)
    return {c.iso2: c for c in (Country.from_dict(r) for r in rows)}
