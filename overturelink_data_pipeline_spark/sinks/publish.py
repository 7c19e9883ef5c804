"""Publish sink abstraction (reference publish.py:505-919, re-shaped
per SURVEY.md S12: the AGOL REST surface is out of scope for a compute
engine, so publishing is a pluggable ``FeatureService`` protocol with
``initial`` / ``overwrite`` / ``append`` semantics and the reference's
operational behaviors preserved:

- **seed-then-batch** (initial publish): a small seed slice defines
  the service schema, the remainder appends in batches (reference
  publish.py:646-671, seed 2 000);
- **truncate + append** (overwrite, reference publish.py:694-711);
- **adaptive batch halving** on payload-too-large/timeout errors,
  with a floor (reference publish.py:603-641: halve on HTTP
  413/502/504, floor 50 000);
- **contract validation** before any upload (publish.py:751).

Scale stance: an upload sink is inherently a network funnel through
the driver. The frame is collected to the driver in one ``collect()``,
so driver memory grows with it; the envelope is country-sized frames
(the reference holds a full GeoDataFrame), and GeoJSONSeq and
GeoParquet are the scalable sinks (SURVEY.md §7.3). The batch loop is
sequential because real feature services serialize appends per layer
(the reference polls async append jobs one at a time,
publish.py:478-503).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame

from overturelink_data_pipeline_spark.transform import validate_contract

#: Reference env-tunable thresholds (publish.py:33-38), scaled-down
#: defaults injectable for tests.
SEED_COUNT = 2_000
BATCH_SIZE = 500_000
BATCH_FLOOR = 50_000


class PayloadTooLarge(Exception):
    """Maps HTTP 413/504-style append failures (publish.py:603-641)."""


class FeatureService(Protocol):
    """Minimal surface the publisher drives."""

    def create(self, name: str, schema_rows: list[dict]) -> None: ...

    def append(self, rows: list[dict]) -> None: ...

    def truncate(self) -> None: ...

    def count(self) -> int: ...


@dataclass
class MockFeatureService:
    """In-memory service for tests: rejects appends above
    ``max_payload`` rows, like a real endpoint's 413."""

    max_payload: int | None = None
    rows: list[dict] = field(default_factory=list)
    created: bool = False
    calls: list[tuple[str, int]] = field(default_factory=list)

    def create(self, name: str, schema_rows: list[dict]) -> None:
        self.created = True
        self.calls.append(("create", len(schema_rows)))
        self.rows.extend(schema_rows)

    def append(self, rows: list[dict]) -> None:
        if self.max_payload is not None and len(rows) > self.max_payload:
            raise PayloadTooLarge(f"{len(rows)} rows > {self.max_payload}")
        self.calls.append(("append", len(rows)))
        self.rows.extend(rows)

    def truncate(self) -> None:
        self.calls.append(("truncate", len(self.rows)))
        self.rows.clear()

    def count(self) -> int:
        return len(self.rows)


#: Consecutive successful appends at a reduced size before probing the
#: size back up (doubling). Guards against one anomalous 413 — e.g. a
#: single batch of unusually large features — permanently halving
#: throughput for the rest of the publish.
_PROBE_UP_AFTER = 4


@dataclass
class _AdaptiveState:
    """Learned upload state carried across batches of one publish.

    ``limit`` is the largest chunk size currently believed safe — None
    means no limit has been learned (full batches go up whole; a SHORT
    batch appending cleanly teaches nothing, which is why the limit is
    not just "the size that last succeeded": a short window — possibly
    1 row — mistaken for a learned limit would throttle every later
    batch with zero 413s ever raised). ``streak`` counts consecutive
    successes at the current limit; at ``threshold`` the limit doubles
    (probe-up).
    ``threshold`` itself doubles every time a 413 arrives at or above
    a size the probe already re-raised to — so when the endpoint's
    limit is GENUINELY reduced, re-probing backs off geometrically
    (bounded total rejected probes) instead of paying one rejected
    request per _PROBE_UP_AFTER successes forever."""

    limit: int | None = None
    streak: int = 0
    threshold: int = _PROBE_UP_AFTER
    probed_to: int | None = None  # size the last probe-up raised to


def _append_adaptive(
    service: FeatureService,
    batch: list[dict],
    floor: int,
    state: _AdaptiveState | None = None,
    ceiling: int | None = None,
) -> _AdaptiveState:
    """Append with halving-on-413 (reference publish.py:603-641) and
    backed-off probe-up; mutates and returns ``state`` so the learned
    limit, streak, and probe backoff all persist across batches (a
    reduced limit fitting only 1-3 chunks per batch would otherwise
    never accumulate a probe streak and stay locked at half speed —
    the r4 review's scenario)."""
    st = state if state is not None else _AdaptiveState()
    cap = ceiling if ceiling is not None else len(batch)
    start = 0
    while start < len(batch):
        size = len(batch) - start if st.limit is None else min(
            len(batch) - start, max(st.limit, 1)
        )
        chunk = batch[start : start + size]
        try:
            service.append(chunk)
            start += len(chunk)
            if st.limit is not None and len(chunk) >= min(st.limit, cap):
                st.streak += 1
                if st.limit < cap and st.streak >= st.threshold:
                    st.limit = min(st.limit * 2, cap)
                    st.probed_to = st.limit
                    st.streak = 0
        except PayloadTooLarge:
            if len(chunk) <= floor:
                raise
            if st.probed_to is not None and len(chunk) >= st.probed_to:
                # the probe itself was rejected: the endpoint's limit
                # really is lower — back off the re-probe cadence
                st.threshold *= 2
            st.limit = max(len(chunk) // 2, floor)
            st.streak = 0
    return st


def publish(
    df: DataFrame,
    service: FeatureService,
    *,
    mode: str = "initial",
    name: str = "layer",
    seed_count: int = SEED_COUNT,
    batch_size: int = BATCH_SIZE,
    batch_floor: int = BATCH_FLOOR,
    validate: bool = True,
) -> int:
    """Publish ``df`` to ``service``; returns rows uploaded.

    Modes (reference publish.py:891-905):
    - ``initial``: ``rows[:seed_count]`` creates the service, then
      ``rows[seed_count:]`` appends (reference publish.py:657-659);
    - ``overwrite``: truncate then append;
    - ``append``: append only.

    Appends go up in ``batch_size`` windows through one adaptive loop
    whose learned upload size carries across windows, so a reduced
    limit is not re-discovered by failed uploads in every window. Rows
    become dicts one window at a time: the dict forest is about the
    size of the ``Row`` list, and building it whole would double the
    peak driver footprint.
    """
    if validate:
        validate_contract(df)
    if mode == "overwrite":
        service.truncate()
    elif mode not in ("initial", "append"):
        raise ValueError(f"unknown publish mode {mode!r}")

    rows = df.collect()
    start = 0
    if mode == "initial":
        start = seed_count
        service.create(name, [r.asDict(recursive=True) for r in rows[:start]])
    state = _AdaptiveState()
    for i in range(start, len(rows), batch_size):
        batch = [r.asDict(recursive=True) for r in rows[i : i + batch_size]]
        state = _append_adaptive(
            service, batch, batch_floor, state=state, ceiling=batch_size
        )
    return len(rows)


def publish_multi_layer(
    layers: dict[str, DataFrame],
    service_factory,
    *,
    mode: str = "initial",
    **kwargs,
) -> dict[str, int]:
    """Per-sublayer publish_or_update (reference publish.py:891-905)."""
    out = {}
    for name, df in layers.items():
        service = service_factory(name)
        out[name] = publish(df, service, mode=mode, name=name, **kwargs)
    return out
