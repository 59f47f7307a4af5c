"""Seeded input generators for the benchmark.

Everything the program under test sees is made here from the ``--seed``
argument: a ship-borne sensor archive (observations) and web-text corpus
shards (documents).  Each generator also returns the faults it planted,
at recorded positions, so the output checks can verify the program
against ground truth instead of against itself.

The same seed always gives byte-identical inputs (``tests`` in
``selftest.py`` pin this).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

# ------------------------------------------------------------ observations

# 14 streams, as in the reference's production config (14 enabled
# datastream ids): (name, range_min, range_max, base, amplitude, noise)
STREAMS = [
    ("FLOW", 1.0, 100.0, 40.0, 5.0, 0.5),
    ("TEMP_TSG", -2.0, 35.0, 12.0, 2.0, 0.05),
    ("SALINITY", 2.0, 41.0, 34.0, 0.5, 0.02),
    ("CONDUCTIVITY", 0.5, 7.0, 4.2, 0.3, 0.01),
    ("FLUORESCENCE", 0.0, 50.0, 2.0, 0.8, 0.05),
    ("TURBIDITY", 0.0, 100.0, 5.0, 1.5, 0.1),
    ("OXYGEN", 100.0, 450.0, 280.0, 15.0, 1.0),
    ("PH", 6.5, 9.0, 8.05, 0.05, 0.005),
    ("PAR", 0.0, 2500.0, 600.0, 300.0, 10.0),
    ("AIR_TEMP", -20.0, 40.0, 14.0, 3.0, 0.1),
    ("AIR_PRESSURE", 950.0, 1060.0, 1013.0, 5.0, 0.2),
    ("WIND_SPEED", 0.0, 60.0, 8.0, 3.0, 0.3),
    ("WIND_DIR", 0.0, 360.0, 180.0, 60.0, 5.0),
    ("HUMIDITY", 10.0, 101.0, 75.0, 8.0, 0.5),
]
STREAM_NAMES = [s[0] for s in STREAMS]
# the seawater-pump FLOW gates the through-flow sensors (reference
# QC_dependent: flow-dependent quantities, 0.5 s as-of tolerance)
FLOW_DEPENDENTS = ["TEMP_TSG"]
CADENCE_S = 3.0  # the reference's per-stream sampling period
BREACH_EVERY = 50  # ticks per planted range breach
NAN_EVERY = 150  # ticks per planted NaN result
JITTER_S = 0.2  # < 0.25 s per stream, so any two streams differ < 0.5 s
EPOCH = dt.datetime(2024, 6, 1)

# sea polygon (lon, lat) around the track; the region check flags every
# fix outside a configured polygon, so the track must stay inside it
SEA = [(1.0, 51.0), (5.0, 51.0), (5.0, 54.0), (1.0, 54.0)]
TRACK_CENTER = (3.0, 52.5)
TRACK_RADIUS_DEG = 0.25


def qc_config_dict() -> dict:
    """The QC configuration every observation workload runs: every
    registered check is configured, so the full chain does work."""
    return {
        "QC": [
            {
                "id": name,
                "range": {"min": lo, "max": hi},
                "gradient": {"min": -50.0 * noise - amp, "max": 50.0 * noise + amp},
                "zscore": {"min": -8.0, "max": 8.0},
            }
            for name, lo, hi, _base, amp, noise in STREAMS
        ],
        "QC_dependent": [
            {
                "independent": "FLOW",
                "dependent": FLOW_DEPENDENTS,
                "dt_tolerance": "0.5s",
                "dt_stabilization": "3min",
                "max_allowed_downtime": "1min",
            }
        ],
        "zscore_time_window": "60min",
        "location": {
            "max_velocity": 15.0,
            "max_acceleration": 5.0,
            "max_dx_dt": 12.0,
            "time_window": "10min",
        },
        "region_polygons": [
            {"name": "NORTH SEA", "coords": [list(p) for p in SEA]},
        ],
    }


@dataclass
class Archive:
    """A columnar observation archive plus its planted faults.

    Arrays are in archive order: tick-major, stream-minor, so
    ``iot_id == tick * 14 + stream``.  ``t_us`` is epoch microseconds."""

    iot_id: np.ndarray
    stream: np.ndarray  # index into STREAMS
    t_us: np.ndarray
    result: np.ndarray
    lat: np.ndarray
    lon: np.ndarray
    feature_id: np.ndarray
    breaches: np.ndarray  # iot_ids of planted range breaches
    nans: np.ndarray  # iot_ids of planted NaN results
    gps_jump_ticks: np.ndarray  # ticks whose fix jumps off the track
    flow_down: list = field(default_factory=list)  # (tick_lo, tick_hi)

    @property
    def n(self) -> int:
        return len(self.iot_id)

    def range_bounds(self) -> tuple[np.ndarray, np.ndarray]:
        lo = np.array([s[1] for s in STREAMS])[self.stream]
        hi = np.array([s[2] for s in STREAMS])[self.stream]
        return lo, hi

    def out_of_range(self) -> np.ndarray:
        """The strict range verdict recomputed in numpy: in range means
        ``min < v < max``; NaN is out of range."""
        lo, hi = self.range_bounds()
        return ~((self.result > lo) & (self.result < hi))

    def select(self, t_lo_us: int, t_hi_us: int) -> np.ndarray:
        """Row indices with ``t_lo <= t < t_hi``."""
        return np.nonzero((self.t_us >= t_lo_us) & (self.t_us < t_hi_us))[0]


def make_archive(
    seed: int, n_ticks: int, cadence_s: float = CADENCE_S, faults: bool = True
) -> Archive:
    """``n_ticks`` ticks of ``cadence_s`` seconds, 14 streams each.
    Faults: one range breach in every 50 ticks and one NaN result in
    every 150 (random tick and stream inside each block, so every
    window of 50+ ticks holds a breach), GPS jumps (~1 per 400 ticks)
    and FLOW downtimes (~1 per 1800 ticks, 40-80 ticks long)."""
    rng = np.random.default_rng([seed, 1])
    ns = len(STREAMS)
    ticks = np.repeat(np.arange(n_ticks, dtype=np.int64), ns)
    stream = np.tile(np.arange(ns, dtype=np.int64), n_ticks)
    iot_id = ticks * ns + stream + 1
    jitter = rng.uniform(-JITTER_S, JITTER_S, size=n_ticks * ns)
    epoch_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    t_us = epoch_us + np.round((ticks * cadence_s + jitter) * 1e6).astype(
        np.int64
    )

    base = np.array([s[3] for s in STREAMS])[stream]
    amp = np.array([s[4] for s in STREAMS])[stream]
    noise = np.array([s[5] for s in STREAMS])[stream]
    phase = rng.uniform(0, 2 * np.pi, size=ns)[stream]
    hours = ticks * cadence_s / 3600.0
    result = (
        base
        + amp * np.sin(2 * np.pi * hours / 6.0 + phase)
        + noise * rng.standard_normal(n_ticks * ns)
    )

    # smooth loop track (~4 m/s), one fix per tick shared by its streams
    ang = 2 * np.pi * np.arange(n_ticks) * cadence_s / (6 * 3600.0)
    tlat = TRACK_CENTER[1] + TRACK_RADIUS_DEG * np.sin(ang)
    tlon = TRACK_CENTER[0] + TRACK_RADIUS_DEG * 1.6 * np.cos(ang)
    gps_jump_ticks = np.array([], dtype=np.int64)
    breaches = np.array([], dtype=np.int64)
    nans = np.array([], dtype=np.int64)
    flow_down: list[tuple[int, int]] = []
    if faults:
        n_jumps = max(1, n_ticks // 400)
        gps_jump_ticks = np.sort(
            rng.choice(np.arange(5, n_ticks - 5), n_jumps, replace=False)
        )
        tlat[gps_jump_ticks] += 0.3
        tlon[gps_jump_ticks] -= 0.3
        flow = STREAM_NAMES.index("FLOW")
        n_down = max(1, n_ticks // 1800)
        starts = np.sort(
            rng.choice(np.arange(20, n_ticks - 100), n_down, replace=False)
        )
        for s in starts:
            length = int(rng.integers(40, 80))
            flow_down.append((int(s), int(s + length)))
            idx = np.arange(s, s + length) * ns + flow
            result[idx] = rng.uniform(0.0, 0.5, size=length)
        n_obs = n_ticks * ns
        is_down_flow = np.zeros(n_obs, dtype=bool)
        for lo_t, hi_t in flow_down:
            is_down_flow[np.arange(lo_t, hi_t) * ns + flow] = True

        def stratified(block: int) -> np.ndarray:
            """One observation in every ``block`` ticks, never a FLOW
            reading inside a downtime (already out of range)."""
            starts = np.arange(0, n_ticks - block + 1, block)
            t = starts + rng.integers(0, block, size=len(starts))
            s = rng.integers(0, ns, size=len(starts))
            idx = t * ns + s
            return idx[~is_down_flow[idx]]

        br_idx = stratified(BREACH_EVERY)
        nan_idx = np.setdiff1d(stratified(NAN_EVERY), br_idx)
        lo = np.array([s[1] for s in STREAMS])[stream[br_idx]]
        hi = np.array([s[2] for s in STREAMS])[stream[br_idx]]
        up = rng.random(len(br_idx)) < 0.5
        span = hi - lo
        result[br_idx] = np.where(up, hi + 0.5 * span, lo - 0.5 * span)
        result[nan_idx] = np.nan
        breaches = np.sort(iot_id[br_idx])
        nans = np.sort(iot_id[nan_idx])
    lat = np.repeat(tlat, ns)
    lon = np.repeat(tlon, ns)
    feature_id = ticks + 1
    return Archive(
        iot_id=iot_id,
        stream=stream,
        t_us=t_us,
        result=result,
        lat=lat,
        lon=lon,
        feature_id=feature_id,
        breaches=breaches,
        nans=nans,
        gps_jump_ticks=gps_jump_ticks,
        flow_down=flow_down,
    )


# ----------------------------------------------------------- documents

STOP = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in",
        "is", "it", "for", "on", "as", "was", "at", "by", "from", "this"]
CONTENT = (
    "ocean vessel sensor station harbour current tide salinity coastal "
    "survey research water sample temperature pressure measure signal "
    "record archive report weather storm wind cloud river estuary basin "
    "plankton species habitat season climate model network cable engine "
    "pump valve filter flow rate depth surface bottom layer mixing north "
    "south east west island channel bank sand mud rock shelf slope canyon "
    "data quality control flag review method result value error range "
    "daily weekly monthly annual trend change event peak mean median "
    "crew captain deck bridge cabin route course speed heading position "
    "satellite signal antenna radio beacon light buoy mooring anchor line "
    "market price trade cargo container port city village coast shore "
    "family school student teacher lesson library museum garden street"
).split()


@dataclass
class Shard:
    doc_id: np.ndarray
    text: list
    exact_dups: list  # (original_id, copy_id)
    near_dups: list  # (original_id, copy_id, jaccard)
    junk: np.ndarray  # ids of junk pages (fail the quality rules)
    clean_unique: np.ndarray  # ids planted as clean, unique documents


def _sentence(rng) -> list[str]:
    n = int(rng.integers(8, 16))
    stop = rng.random(n) < 0.4
    pick = rng.integers(0, 1 << 30, n)
    return [
        STOP[p % len(STOP)] if s else CONTENT[p % len(CONTENT)]
        for s, p in zip(stop, pick)
    ]


def _clean_texts(rng, n: int) -> list[str]:
    """``n`` English-like pages that pass the Gopher quality rules:
    70-160 words from stop and content words, in capitalized lines of
    10-25 words ending with a period."""
    n_words = rng.integers(70, 160, size=n)
    total = int(n_words.sum())
    stop = rng.random(total) < 0.4
    pick = rng.integers(0, 1 << 30, size=total)
    vocab_s = np.array(STOP, dtype=object)
    vocab_c = np.array(CONTENT, dtype=object)
    words = np.where(
        stop, vocab_s[pick % len(STOP)], vocab_c[pick % len(CONTENT)]
    )
    # three of Gopher's required stop words in every page, so a clean
    # page never fails the "at least two stop words" rule by chance
    starts = np.concatenate([[0], np.cumsum(n_words)[:-1]])
    for pos, w in ((2, "the"), (5, "of"), (8, "and")):
        words[starts + pos] = w
    line_len = rng.integers(10, 25, size=total)
    texts, off = [], 0
    for d in range(n):
        w = words[off : off + n_words[d]].tolist()
        lines, i = [], 0
        while i < len(w):
            k = int(line_len[off + i])
            lines.append(" ".join(w[i : i + k]).capitalize() + ".")
            i += k
        texts.append("\n".join(lines))
        off += n_words[d]
    return texts


def shingles(words: list[str], k: int = 3) -> set:
    return {tuple(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


def _normalized_words(text: str) -> list[str]:
    return text.lower().split()


def make_shard(seed: int, shard: int, n_docs: int) -> Shard:
    """``n_docs`` documents with ids unique across shards.  Planted: ~4%
    exact duplicates (case/whitespace variants of an earlier doc), ~4%
    near-duplicates (one edited word in ~60, shingle Jaccard ~0.9) and
    ~3% junk pages (token soup with symbols, too short, or ellipsis
    lines) that the quality rules must drop."""
    rng = np.random.default_rng([seed, 2, shard])
    base_id = shard * 10_000_000 + 1
    n_dup = n_docs // 25
    n_near = n_docs // 25
    n_junk = n_docs // 33
    n_clean = n_docs - n_dup - n_near - n_junk
    texts = _clean_texts(rng, n_clean)
    originals = rng.permutation(n_clean)[: n_dup + n_near]
    exact, near = [], []
    for j, o in enumerate(originals):
        o = int(o)
        if j < n_dup:
            t = texts[o].upper() if j % 2 else texts[o].replace(" ", "  ")
            texts.append(t)
            exact.append((o, len(texts) - 1))
        else:
            # edit tokens in place, keeping the original's line breaks
            toks = [ln.split(" ") for ln in texts[o].split("\n")]
            flat = [(i, k) for i, ln in enumerate(toks) for k in range(len(ln))]
            for p in range(0, len(flat), 60):
                i, k = flat[p + int(rng.integers(0, min(60, len(flat) - p)))]
                toks[i][k] = "re" + toks[i][k].lower()
            texts.append("\n".join(" ".join(ln) for ln in toks))
            # jaccard on the text the operator sees (normalized tokens)
            jac = jaccard(
                _normalized_words(texts[o]), _normalized_words(texts[-1])
            )
            near.append((o, len(texts) - 1, jac))
    junk_pos = []
    for j in range(n_junk):
        kind = j % 3
        if kind == 0:  # symbol soup
            t = " ".join(
                "#" + CONTENT[int(rng.integers(len(CONTENT)))]
                for _ in range(80)
            )
        elif kind == 1:  # too short
            t = " ".join(_sentence(rng))
        else:  # ellipsis lines
            t = "\n".join(
                " ".join(_sentence(rng)) + "..." for _ in range(8)
            )
        texts.append(t)
        junk_pos.append(len(texts) - 1)
    # shuffle positions so planted docs are spread over the id range;
    # fix() then gives each original the smaller id of its pair, since
    # dedup keeps the smallest id
    order = rng.permutation(len(texts))
    pos_to_id = np.empty(len(texts), dtype=np.int64)
    pos_to_id[order] = np.arange(len(texts))
    ids = base_id + pos_to_id

    def fix(o: int, c: int) -> tuple[int, int]:
        a, b = int(ids[o]), int(ids[c])
        if a > b:  # swap texts so the original keeps the smaller id
            texts[o], texts[c] = texts[c], texts[o]
        return min(a, b), max(a, b)

    exact_ids = [fix(o, c) for o, c in exact]
    near_ids = [(*fix(o, c), jac) for o, c, jac in near]
    planted = {o for o, _ in exact} | {o for o, _, _ in near}
    clean_unique = np.array(
        sorted(int(ids[i]) for i in range(n_clean) if i not in planted)
    )
    by_id = np.argsort(ids)
    return Shard(
        doc_id=ids[by_id],
        text=[texts[i] for i in by_id],
        exact_dups=exact_ids,
        near_dups=near_ids,
        junk=np.sort(ids[junk_pos]),
        clean_unique=clean_unique,
    )


def shard_table(s: Shard):
    import pyarrow as pa

    return pa.table(
        {
            "doc_id": pa.array(s.doc_id, pa.int64()),
            "text": pa.array(s.text, pa.string()),
        }
    )
