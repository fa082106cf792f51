"""Seeded AIS fleet and wire-JSON message generation.

Everything here is a pure function of the seed: the same seed gives the same
fleet, the same schedule and the same messages. Event time has one-second
resolution and no vessel reports twice in one second, so
``(mmsi, timestamp_utc)`` identifies a message.

Fleet model (the reference's cadence, README.md:39): a moving vessel reports
every 5-30 s, an anchored one every 180 s. A small share of vessels sails
outside the preprocessing bounding box and a small share of messages carries
a message type the pipeline filters out, so the preprocessing filters have
known work to do.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

# 2024-01-01 00:00:00 UTC: event time of the first replayed message.
REPLAY_EPOCH_S = 1_704_067_200
MOVING_SHARE = 0.7
ANCHORED_PERIOD_S = 180
OUTSIDE_BBOX_SHARE = 0.05
FILTERED_TYPE_SHARE = 0.03
KEPT_TYPES = (1, 2, 3, 18, 27)
FILTERED_TYPE = 5
VESSEL_TYPES = ("Cargo", "Tanker", "Fishing", "Passenger", "Tug")
# The pipeline's bounding box (functions.cleaning.BBOX_LAT / BBOX_LON),
# open on every side.
BBOX_LAT = (7.0, 23.0)
BBOX_LON = (105.0, 123.0)


@dataclass(frozen=True)
class Fleet:
    mmsi: np.ndarray  # int64 [n]
    period_s: np.ndarray  # int64 [n]
    phase_s: np.ndarray  # int64 [n], first report offset in [0, period)
    lon0: np.ndarray
    lat0: np.ndarray
    speed: np.ndarray  # knots
    course: np.ndarray  # degrees


def make_fleet(rng: np.random.Generator, n: int) -> Fleet:
    moving = rng.random(n) < MOVING_SHARE
    period = np.where(moving, rng.integers(5, 31, n), ANCHORED_PERIOD_S).astype(np.int64)
    outside = rng.random(n) < OUTSIDE_BBOX_SHARE
    lon0 = np.where(outside, rng.uniform(100.0, 104.0, n), rng.uniform(106.0, 122.0, n))
    lat0 = np.where(outside, rng.uniform(2.0, 6.0, n), rng.uniform(8.0, 22.0, n))
    speed = np.where(moving, rng.uniform(3.0, 22.0, n), rng.uniform(0.0, 0.5, n))
    return Fleet(
        mmsi=(200_000_000 + rng.permutation(n) * 97 + rng.integers(0, 97, n)).astype(np.int64),
        period_s=period,
        phase_s=(rng.random(n) * period).astype(np.int64),
        lon0=lon0,
        lat0=lat0,
        speed=speed,
        course=rng.uniform(0.0, 360.0, n),
    )


def schedule(fleet: Fleet, start_s: int, end_s: int) -> tuple[np.ndarray, np.ndarray]:
    """All reports due in ``[start_s, end_s)``: (vessel index, event second),
    sorted by event second then vessel. Vessel ``i`` reports at
    ``start_s + phase_s[i] + j * period_s[i]``."""
    idx, sec = [], []
    span = end_s - start_s
    for p in np.unique(fleet.period_s):
        members = np.nonzero(fleet.period_s == p)[0]
        k = np.arange(0, span // p + 1, dtype=np.int64)
        t = fleet.phase_s[members][:, None] + k[None, :] * p
        keep = t < span
        idx.append(np.broadcast_to(members[:, None], t.shape)[keep])
        sec.append(t[keep] + start_s)
    idx_a, sec_a = np.concatenate(idx), np.concatenate(sec)
    order = np.lexsort((idx_a, sec_a))
    return idx_a[order], sec_a[order]


def zipf_schedule(
    rng: np.random.Generator, n_vessels: int, n_events: int, span_s: int, s: float
) -> tuple[np.ndarray, np.ndarray]:
    """Zipf-skewed reporting: the vessel of rank ``r`` sends a share of the
    ``n_events`` reports proportional to ``r ** -s``, at least one and at most
    one per two seconds of the ``span_s``-second replay, evenly spaced from a
    random phase. Same ordering as :func:`schedule`."""
    weight = np.arange(1, n_vessels + 1, dtype=np.float64) ** -s
    count = np.maximum(1, np.floor(weight / weight.sum() * n_events)).astype(np.int64)
    count = np.minimum(count, span_s // 2)
    rank_of = rng.permutation(n_vessels)  # vessel i has rank rank_of[i]
    count = count[rank_of]
    vessel = np.repeat(np.arange(n_vessels, dtype=np.int64), count)
    first = np.cumsum(count) - count
    j = np.arange(vessel.size, dtype=np.int64) - np.repeat(first, count)
    step = span_s / count[vessel]
    phase = rng.random(n_vessels)[vessel] * step
    sec = REPLAY_EPOCH_S + np.floor(phase + j * step).astype(np.int64)
    order = np.lexsort((vessel, sec))
    return vessel[order], sec[order]


@dataclass(frozen=True)
class Messages:
    """Rendered wire JSON plus the fields the harness checks against."""

    value: list[str]
    mmsi: np.ndarray  # int64
    kept: np.ndarray  # bool: passes the pipeline's type and bbox filters


def render(
    fleet: Fleet, rng: np.random.Generator, vessel: np.ndarray, event_s: np.ndarray
) -> Messages:
    """One AIS wire-JSON message (the 17-column ``position_history`` shape)
    per (vessel, event second)."""
    n = vessel.size
    hours = (event_s - REPLAY_EPOCH_S) / 3600.0
    rad = np.radians(fleet.course[vessel])
    dist_deg = fleet.speed[vessel] * hours / 60.0  # 1 knot ~ 1/60 degree per hour
    lon = np.round(fleet.lon0[vessel] + dist_deg * np.sin(rad), 6)
    lat = np.round(fleet.lat0[vessel] + dist_deg * np.cos(rad), 6)
    sog = np.round((fleet.speed[vessel] + rng.normal(0.0, 0.3, n).clip(-1, 1)).clip(0.0), 1)
    cog = np.round((fleet.course[vessel] + rng.normal(0.0, 2.0, n)) % 360.0, 1)
    heading = np.where(rng.random(n) < 0.05, 511.0, np.round(cog))
    rot = np.where(rng.random(n) < 0.05, -128.0, np.round(rng.normal(0.0, 8.0, n), 1))
    mtype = np.where(
        rng.random(n) < FILTERED_TYPE_SHARE,
        FILTERED_TYPE,
        np.asarray(KEPT_TYPES)[rng.integers(0, len(KEPT_TYPES), n)],
    )
    nav = rng.integers(0, 16, n)
    offs = rng.integers(0, 60, n)
    stamps = np.datetime_as_string(event_s.astype("datetime64[s]"), unit="s")
    mmsi = fleet.mmsi[vessel]
    value = [
        json.dumps(
            {
                "timestamp_utc": stamps[i].replace("T", " ") + "Z",
                "mmsi": int(mmsi[i]),
                "position": f"POINT({lon[i]} {lat[i]})",
                "navigation_status": float(nav[i]),
                "speed_over_ground": float(sog[i]),
                "course_over_ground": float(cog[i]),
                "message_type": int(mtype[i]),
                "source_identifier": "perfbench",
                "position_verified": 1,
                "position_latency": 0,
                "raim_flag": 0,
                "vessel_name": f"V{int(mmsi[i])}",
                "vessel_type": VESSEL_TYPES[int(mmsi[i]) % len(VESSEL_TYPES)],
                "timestamp_offset_seconds": int(offs[i]),
                "true_heading": float(heading[i]),
                "rate_of_turn": float(rot[i]),
                "repeat_indicator": 0,
            }
        )
        for i in range(n)
    ]
    kept = (
        (mtype != FILTERED_TYPE)
        & (lat > BBOX_LAT[0]) & (lat < BBOX_LAT[1])
        & (lon > BBOX_LON[0]) & (lon < BBOX_LON[1])
    )
    return Messages(value=value, mmsi=mmsi, kept=kept)


@dataclass(frozen=True)
class Replay:
    """A drained replay: messages in arrival order, chunk-assigned."""

    msgs: Messages
    chunk: np.ndarray  # int64 micro-batch index of each message
    late: np.ndarray  # bool: injected beyond the watermark


def make_replay(
    seed: int,
    n_events: int,
    n_vessels: int,
    n_chunks: int,
    late_share: float,
    disorder_share: float,
    zipf: float | None = None,
) -> Replay:
    """About ``n_events`` reports of ``n_vessels`` vessels in event-time
    order, split into ``n_chunks`` consecutive micro-batches. With ``zipf``
    the reporting rate is Zipf-skewed over the vessels (every vessel reports
    at least once); without it every vessel keeps the reference cadence.

    Injected disorder, drawn from the seed, sized for the pipeline's
    5-minute watermark and 2-minute windows sliding by 1 minute:

    - ``disorder_share`` of messages keep their place in the replay but
      carry an event time 1-180 s earlier, so every window they fall into is
      still open when they arrive;
    - ``late_share`` of messages in chunks 2.. carry an event time 8-12 min
      before the previous chunk starts. The engine drops a row as late
      against the watermark of the micro-batch before its own, which trails
      the previous chunk's start by 5 minutes, so both window rows of each
      such message close before that watermark and must be dropped. A
      vessel gets at most one late message per chunk, so no two late rows
      share a window group and the engine's drop count is exact.
    """
    rng = np.random.default_rng(seed)
    fleet = make_fleet(rng, n_vessels)
    if zipf is None:
        mean_rate = float(np.sum(1.0 / fleet.period_s))
        span = int(n_events / mean_rate) + 60
        vessel, event_s = schedule(fleet, REPLAY_EPOCH_S, REPLAY_EPOCH_S + span)
        vessel, event_s = vessel[:n_events].copy(), event_s[:n_events].copy()
    else:
        vessel, event_s = zipf_schedule(rng, n_vessels, n_events, 600, zipf)
    n = vessel.size
    # the chunking sources.replay.replay_to_files applies to rows in order
    chunk = np.arange(n, dtype=np.int64) // -(-n // n_chunks)
    chunk_start = event_s[np.searchsorted(chunk, np.arange(chunk[-1] + 1))]

    draw = rng.random(n)
    late = (draw < late_share) & (chunk > 1)
    # at most one late message per (vessel, chunk): keep the first
    pair = vessel * (chunk[-1] + 1) + chunk
    late_idx = np.nonzero(late)[0]
    _, first = np.unique(pair[late_idx], return_index=True)
    late[:] = False
    late[late_idx[first]] = True
    disordered = (draw >= late_share) & (draw < late_share + disorder_share)
    event_s[disordered] -= rng.integers(1, 181, int(disordered.sum()))
    event_s[late] = chunk_start[chunk[late] - 1] - rng.integers(480, 721, int(late.sum()))
    # keep (mmsi, event second) unique: move a shifted report off any
    # second its vessel already reports in
    shifted = late | disordered
    used = set(zip(vessel[~shifted].tolist(), event_s[~shifted].tolist()))
    for i in np.nonzero(shifted)[0]:
        while (int(vessel[i]), int(event_s[i])) in used:
            event_s[i] -= 1
        used.add((int(vessel[i]), int(event_s[i])))
    return Replay(
        msgs=render(fleet, rng, vessel, event_s),
        chunk=chunk,
        late=late,
    )
