"""Seeded input generators for the workloads.

Everything here is pure Python and deterministic in the seed: the same
seed writes byte-identical files with identical mtimes. The generators
also return what the correctness checks need (the parsed IoT rows, which
docs were designed to fail the quality gate), so the checks never read
the program's own outputs to know what to expect.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

# -------------------------------------------------------------------- IoT

# The four default DateTime formats of the job pipeline (FIXTURES F-1).
IOT_TS_FORMATS = ["%y-%m-%d %H:%M:%S", "%y/%m/%d %H:%M:%S",
                  "%Y-%m-%d %H:%M:%S", "%Y/%m/%d %H:%M:%S"]
IOT_HEADER = "DateTime,Sensor_id,PM25,PM10,AQI,LAT,LONG,Remarks"
IOT_REMARKS = ["calibrated", "maintenance visit", "battery low", "relocated"]
IOT_EPOCH = datetime(2021, 10, 1)
# mtimes of queue files: a fixed origin plus one minute per file
IOT_MTIME0 = 1_633_046_400
IOT_ROWS_PER_FILE = 2000
IOT_SENSORS = 20


@dataclass
class IotFile:
    path: Path
    rows: list[tuple]       # parsed rows, file order: (ts, sid, pm25, ...)


def iot_files(out_dir: Path, seed: int, n_files: int,
              first_index: int = 0) -> list[IotFile]:
    """Write ``n_files`` F-1 IoT CSV files of ``IOT_ROWS_PER_FILE`` rows
    into ``out_dir``.

    Each file covers a window of minutes for every sensor. Consecutive
    windows overlap by a third, so later files re-send keys of earlier
    ones with new values (newest file wins). About 10% of a file's rows
    repeat a key of the same file with other values (the last one wins
    under ``Dedupe=last``). DateTime rotates through the four formats
    and some fields carry a leading blank after the comma.
    """
    out_dir.mkdir(parents=True, exist_ok=True)
    files = []
    n_keys = int(IOT_ROWS_PER_FILE / 1.1)
    minutes = n_keys // IOT_SENSORS
    step = max(1, (2 * minutes) // 3)
    for i in range(first_index, first_index + n_files):
        rng = random.Random(f"iot:{seed}:{i}")
        t0 = IOT_EPOCH + timedelta(minutes=i * step)
        keys = [(t0 + timedelta(minutes=m), s)
                for m in range(minutes) for s in range(IOT_SENSORS)]
        rows = [_iot_row(rng, ts, s, seed) for ts, s in keys]
        for _ in range(IOT_ROWS_PER_FILE - len(rows)):
            ts, s = keys[rng.randrange(len(keys))]
            rows.insert(rng.randrange(len(rows) + 1), _iot_row(rng, ts, s, seed))
        path = out_dir / f"zone1_airquality_{i:05d}.csv"
        lines = [IOT_HEADER]
        for ts, s, pm25, pm10, aqi, lat, lon, remark in rows:
            fmt = IOT_TS_FORMATS[rng.randrange(4)]
            sep = ", " if rng.random() < 0.1 else ","
            fields = [ts.strftime(fmt), f"S{s:03d}",
                      "" if pm25 is None else f"{pm25:.2f}",
                      "" if pm10 is None else f"{pm10:.2f}",
                      str(aqi), f"{lat:.4f}", f"{lon:.4f}", remark or ""]
            lines.append(sep.join(fields))
        data = ("\n".join(lines) + "\n").encode()
        path.write_bytes(data)
        mtime = IOT_MTIME0 + 60 * i
        os.utime(path, (mtime, mtime))
        parsed = [(ts, f"S{s:03d}", pm25, pm10, aqi, lat, lon, remark)
                  for ts, s, pm25, pm10, aqi, lat, lon, remark in rows]
        files.append(IotFile(path, parsed))
    return files


def _iot_row(rng: random.Random, ts: datetime, s: int, seed: int) -> tuple:
    site = random.Random(f"site:{seed}:{s}")
    lat = round(51.0 + site.random(), 4)
    lon = round(0.1 + site.random(), 4)
    pm25 = None if rng.random() < 0.03 else round(rng.uniform(1, 90), 2)
    pm10 = None if rng.random() < 0.03 else round(rng.uniform(5, 150), 2)
    aqi = rng.randrange(10, 200)
    remark = IOT_REMARKS[rng.randrange(4)] if rng.random() < 0.02 else None
    return ts, s, pm25, pm10, aqi, lat, lon, remark


# --------------------------------------------------------------- documents

STOP = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_CONS = "bcdfghjklmnprstvwz"
_VOW = "aeiou"


def vocabulary(seed: int, size: int = 4000) -> list[str]:
    rng = random.Random(f"vocab:{seed}")
    words = set()
    while len(words) < size:
        n = rng.randrange(2, 5)
        words.add("".join(rng.choice(_CONS) + rng.choice(_VOW)
                          for _ in range(n)))
    return sorted(words)


def _sentence_words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    out = []
    for _ in range(n):
        out.append(rng.choice(STOP) if rng.random() < 0.25
                   else rng.choice(vocab))
    return out


def _render(words: list[str]) -> str:
    # sentences of ~12 words, capitalised, full stops
    parts = []
    for k in range(0, len(words), 12):
        chunk = words[k:k + 12]
        parts.append(chunk[0].capitalize() + " " + " ".join(chunk[1:]) + ".")
    return " ".join(parts)


def _exact_variant(text: str) -> str:
    """Same normalised text (lower-cased, non-alphanumerics dropped),
    different bytes."""
    return text.upper().replace(".", "!")


# Shares of a document batch, by design: docs that fail the quality gate
# (three numbers) and case/punctuation variants of an earlier fresh doc
# (exact duplicates). Fresh docs are WORDS_PER_DOC words long; a batch
# holds DOCS_PER_BATCH docs.
LOW_FRAC = 0.08
EXACT_FRAC = 0.12
WORDS_PER_DOC = 80
DOCS_PER_BATCH = 400


@dataclass
class DocBatch:
    path: Path
    ids: list[int]
    low_quality: set[int] = field(default_factory=set)
    texts: dict[int, str] = field(default_factory=dict)


def doc_batches(out_dir: Path, seed: int, n_batches: int,
                first_index: int = 0) -> list[DocBatch]:
    """Write ``n_batches`` jsonl files of ``DOCS_PER_BATCH`` documents.

    Exact variants copy a fresh doc of this batch or of any earlier batch
    of the same call, so both the in-batch and the cross-batch exact
    gates reject a known share; the rest are fresh text.
    """
    vocab = vocabulary(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    batches = []
    history: list[str] = []
    for b in range(first_index, first_index + n_batches):
        rng = random.Random(f"docs:{seed}:{b}")
        base = b * 10 * DOCS_PER_BATCH
        batch = DocBatch(out_dir / f"batch_{b:05d}.json", [])
        for k in range(DOCS_PER_BATCH):
            doc_id = base + k
            r = rng.random()
            if r < LOW_FRAC:
                text = " ".join(str(rng.randrange(10**6)) for _ in range(3))
                batch.low_quality.add(doc_id)
            elif r < LOW_FRAC + EXACT_FRAC and history:
                text = _exact_variant(history[rng.randrange(len(history))])
            else:
                text = _render(_sentence_words(rng, vocab, WORDS_PER_DOC))
                history.append(text)
            batch.ids.append(doc_id)
            batch.texts[doc_id] = text
        with open(batch.path, "w") as f:
            for doc_id in batch.ids:
                f.write(json.dumps({
                    "doc_id": doc_id, "text": batch.texts[doc_id],
                    "lang": "en", "source": f"site{doc_id % 7}"}) + "\n")
        batches.append(batch)
    return batches


def normalise(text: str) -> str:
    """Python twin of ``operators.dedup_fuzzy.normalize_text``."""
    return "".join(ch for ch in text.lower() if ch.isascii() and ch.isalnum())
