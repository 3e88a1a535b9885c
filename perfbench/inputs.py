"""Seeded input generators and the expected outputs derived from them.

Everything here is plain numpy: the program under test only
ever sees the files written to disk.  Each generator returns the
expectations the output checks compare against, computed from the
generator's own parameters and bytes, never from the program's output.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

USEC = 1_000_000
RATE = 256  # samples per 1 s data record, every signal
ANN_NR = 57  # annotation signal: 114 bytes of TAL per record
PHY_MIN, PHY_MAX = -1000.0, 1000.0
DIG_MIN, DIG_MAX = -32768, 32767
GAIN = (PHY_MAX - PHY_MIN) / (DIG_MAX - DIG_MIN)
BIAS = GAIN * (PHY_MAX / GAIN - DIG_MAX)
# last-sample offset inside a 1 s record at 256 Hz: round(255 * 1e6 / 256)
LAST_IN_RECORD_USEC = int(np.round((RATE - 1) * (USEC / RATE)))


# ---------------------------------------------------------------------------
# EDF byte layout
# ---------------------------------------------------------------------------


def _f(value, width: int) -> bytes:
    b = str(value).encode("ascii")
    if len(b) > width:
        raise ValueError(f"{value!r} does not fit {width} bytes")
    return b.ljust(width)


def edf_bytes(
    labels: list[str],
    start: datetime,
    digital: np.ndarray,
    tals: list[bytes] | None = None,
) -> bytes:
    """One EDF(+C) or, when ``tals`` is given, EDF+D file.

    ``digital``: (nb_rec, len(labels) * RATE) int16, record-major.
    ``tals``: one TAL block per record (record-start TAL plus events).
    """
    nb_rec = digital.shape[0]
    ns = len(labels) + (1 if tals is not None else 0)
    all_labels = labels + (["EDF Annotations"] if tals is not None else [])
    nrs = [RATE] * len(labels) + ([ANN_NR] if tals is not None else [])
    hdr = b"".join(
        [
            _f("0", 8),
            _f("bench patient", 80),
            _f("bench record", 80),
            _f(start.strftime("%d.%m.%y"), 8),
            _f(start.strftime("%H.%M.%S"), 8),
            _f(256 + 256 * ns, 8),
            _f("EDF+D" if tals is not None else "EDF+C", 44),
            _f(nb_rec, 8),
            _f(1, 8),
            _f(ns, 4),
        ]
    )
    hdr += b"".join(
        [
            b"".join(_f(x, 16) for x in all_labels),
            _f("", 80) * ns,
            b"".join(_f("uV" if i < len(labels) else "", 8) for i in range(ns)),
            _f(int(PHY_MIN), 8) * ns,
            _f(int(PHY_MAX), 8) * ns,
            _f(DIG_MIN, 8) * ns,
            _f(DIG_MAX, 8) * ns,
            _f("", 80) * ns,
            b"".join(_f(n, 8) for n in nrs),
            _f("", 32) * ns,
        ]
    )
    data = np.ascontiguousarray(digital, dtype="<i2")
    if tals is not None:
        ann = np.frombuffer(
            b"".join(t.ljust(2 * ANN_NR, b"\x00") for t in tals), dtype="<i2"
        ).reshape(nb_rec, ANN_NR)
        data = np.concatenate([data, ann], axis=1)
    return hdr + data.tobytes()


def _tal(onset: float, text: str = "") -> bytes:
    return f"+{onset:g}".encode() + b"\x14" + text.encode() + b"\x14\x00"


def _usec(dt: datetime) -> int:
    return int(dt.timestamp()) * USEC


def _base_start(rng: np.random.Generator) -> datetime:
    day = int(rng.integers(0, 3000))
    return datetime(2011, 4, 4, 9, 0, 0, tzinfo=timezone.utc) + timedelta(days=day)


def _write(path: str, content: bytes) -> None:
    with open(path, "wb") as f:
        f.write(content)


# ---------------------------------------------------------------------------
# ingest_long: a few long contiguous EDF+C recordings, full sample publish
# ---------------------------------------------------------------------------


@dataclass
class IngestInputs:
    edf_dir: str
    n_samples: int
    input_bytes: int
    # (file, channel) -> count, min, max, sum of values; t_min, t_max
    sample_stats: dict[tuple[str, str], dict] = field(default_factory=dict)
    # channel name -> num_values, start, end, chunks [(index, start, end)]
    channels: dict[str, dict] = field(default_factory=dict)


def make_ingest(
    root: str, seed: int, n_files: int, n_signals: int, n_records: int
) -> IngestInputs:
    """``n_files`` back-to-back segments of one recording: every channel
    is one contiguous chunk across all files."""
    rng = np.random.default_rng(seed)
    edf_dir = os.path.join(root, "edf")
    os.makedirs(edf_dir, exist_ok=True)
    labels = [f"EEG{i:02d}" for i in range(n_signals)]
    start0 = _base_start(rng)
    t = np.arange(n_records * RATE) / RATE
    out = IngestInputs(edf_dir, 0, 0)
    for k in range(n_files):
        name = f"rec_{k:02d}.edf"
        start = start0 + timedelta(seconds=k * n_records)
        sigs = []
        for _ in labels:
            freq, amp, phase = rng.uniform(0.5, 30), rng.uniform(2e3, 2e4), rng.uniform(0, 6.3)
            wave = amp * np.sin(2 * np.pi * freq * t + phase)
            wave += rng.normal(0.0, 300.0, t.size)
            sigs.append(np.clip(np.round(wave), DIG_MIN, DIG_MAX).astype("<i2"))
        # (n_records, n_signals * RATE): record-major signal blocks
        digital = np.concatenate(
            [s.reshape(n_records, RATE) for s in sigs], axis=1
        )
        content = edf_bytes(labels, start, digital)
        _write(os.path.join(edf_dir, name), content)
        out.input_bytes += len(content)

        # independent decode of the generated bytes
        header_bytes = 256 + 256 * n_signals
        rec = np.frombuffer(content, dtype="<i2", offset=header_bytes).reshape(
            n_records, n_signals * RATE
        )
        t0 = _usec(start)
        t_last = t0 + int(np.round((n_records * RATE - 1) * (USEC / RATE)))
        for i, label in enumerate(labels):
            dig = rec[:, i * RATE : (i + 1) * RATE].astype(np.int64)
            out.sample_stats[(name, label)] = {
                "count": dig.size,
                "min": GAIN * float(dig.min()) + BIAS,
                "max": GAIN * float(dig.max()) + BIAS,
                "sum": GAIN * float(dig.sum()) + BIAS * dig.size,
                "t_min": t0,
                "t_max": t_last,
            }
        out.n_samples += digital.size
    first = _usec(start0)
    last = first + int(np.round((n_files * n_records * RATE - 1) * (USEC / RATE)))
    for label in labels:
        out.channels[label] = {
            "num_values": n_files * n_records * RATE,
            "start": first,
            "end": last,
            "chunks": [(0, first, last)],
        }
    return out


# ---------------------------------------------------------------------------
# catalog_gappy_append: many short EDF+D recordings with recording gaps
# ---------------------------------------------------------------------------


@dataclass
class CatalogInputs:
    edf_dir: str
    n_samples: int
    input_bytes: int
    registry: list[dict]
    # channel name -> num_values, start, end, chunks [(index, start, end)]
    channels: dict[str, dict]
    # sorted (file, record, onset_sec, text) of every event TAL
    events: list[tuple]


def make_catalog(
    root: str, seed: int, n_files: int, n_signals: int, n_records: int
) -> CatalogInputs:
    """EDF+D files on one timeline.  Inside a file, runs of 2-6 records
    are separated by 1-5 s recording gaps; consecutive files either
    continue the previous file's last run (chunks merge across files) or
    start after a 1-30 s gap.  About one record in eight carries an event
    TAL."""
    rng = np.random.default_rng(seed)
    edf_dir = os.path.join(root, "edf")
    os.makedirs(edf_dir, exist_ok=True)
    labels = [f"ch{i:02d}" for i in range(n_signals)]
    base = _base_start(rng)
    rec_starts: list[int] = []  # absolute record start, µs, timeline order
    events: list[tuple] = []
    cursor = 0  # seconds from base
    input_bytes = 0
    for k in range(n_files):
        name = f"seg_{k:03d}.edf"
        if k and rng.random() < 0.5:
            cursor += int(rng.integers(1, 31))
        start = base + timedelta(seconds=cursor)
        offs = np.empty(n_records, dtype=np.int64)
        pos, left = 0, int(rng.integers(2, 7))
        for r in range(n_records):
            if left == 0:
                pos += int(rng.integers(1, 6))
                left = int(rng.integers(2, 7))
            offs[r] = pos
            pos += 1
            left -= 1
        tals = []
        for r in range(n_records):
            tal = _tal(float(offs[r]))
            if rng.random() < 0.125:
                onset = float(offs[r]) + float(rng.integers(1, 10)) / 10
                text = f"evt{int(rng.integers(0, 40))}"
                tal += _tal(onset, text)
                events.append((name, r, onset, text))
            tals.append(tal)
        digital = rng.integers(
            DIG_MIN, DIG_MAX + 1, size=(n_records, n_signals * RATE), dtype=np.int16
        )
        content = edf_bytes(labels, start, digital, tals)
        _write(os.path.join(edf_dir, name), content)
        input_bytes += len(content)
        t0 = _usec(start)
        rec_starts.extend((t0 + offs * USEC).tolist())
        cursor += pos

    # chunks on the merged timeline: a record continues the previous
    # chunk iff it starts exactly one record duration after the previous
    # record (gap to the previous sample = 3906 µs ≤ 2/rate)
    chunks = []
    for i, s in enumerate(rec_starts):
        if i and s - rec_starts[i - 1] == USEC:
            chunks[-1][2] = s + LAST_IN_RECORD_USEC
            chunks[-1][3] += RATE
        else:
            index = chunks[-1][0] + chunks[-1][3] if chunks else 0
            chunks.append([index, s, s + LAST_IN_RECORD_USEC, RATE])
    expected = {
        "num_values": len(rec_starts) * RATE,
        "start": rec_starts[0],
        "end": rec_starts[-1] + LAST_IN_RECORD_USEC,
        "chunks": [(c[0], c[1], c[2]) for c in chunks],
    }
    registry = [
        {"id": f"prior.edf#{i}", "name": label, "rate": float(RATE), "type": "CONTINUOUS"}
        for i, label in enumerate(labels)
    ]
    return CatalogInputs(
        edf_dir,
        n_samples=len(rec_starts) * RATE * n_signals,
        input_bytes=input_bytes,
        registry=registry,
        channels={label: expected for label in labels},
        events=sorted(events),
    )
