"""Seeded input generator for the benchmark workloads.

Runs as its own process and uses only numpy and pyarrow, so a change to
the engine can never change the bytes the engine is benchmarked on:

    python3 perfbench/gen.py --workload preprocess --seed 7 --out DIR

writes the workload's input files under DIR plus ``manifest.json`` (row
counts, bytes, and a sha256 over every input file). The same
(workload, seed, size) always yields byte-identical files; a different
seed yields different ones.

- ``extract``: raw tables shaped like the reference extraction fixture
  (``subjects`` and ``admit_vitals``, ``%m/%d/%Y, %H:%M:%S`` string dates,
  static columns, numeric vitals with some blanks), as directories of CSV
  part files.
- ``preprocess``: a MEDS cohort (patient_id, time, code, numeric_value) as
  multi-file parquet: Zipf codes, static rows with null time, ~40% null
  values, heavy-tailed measurements per patient.
- ``curation``: a document corpus as multi-file parquet: Zipf vocabulary
  with apostrophes and digits, planted 20-word duplicate spans, planted
  low-quality documents, several lang/source values.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input size per workload; every input spans more files than cores. At
#: these sizes per-row work is the smaller part of an iteration: timing the
#: last four of nine iterations at 1x and 2x these sizes on 4 cores puts
#: the per-row share at 1x at 11% (extract), 34% (preprocess) and 18%
#: (curation); the rest is fixed per-job cost (planning, scheduling, the
#: Python worker hand-off, file commits). The 4-8x sizes at which per-row
#: work would dominate do not fit the run budget (about 40 s per run,
#: with a 12-16 s cold iteration, and curation's DuckDB reference growing
#: by about 2.2 s per 1000 documents).
SIZES = {
    "extract": {"patients": 2_500, "files": 8},
    "preprocess": {"patients": 1_600, "files": 8},
    "curation": {"docs": 3_000, "files": 8},
}

_WORKLOAD_IDS = {"extract": 1, "preprocess": 2, "curation": 3}

#: 2015-01-01T00:00:00 UTC, in seconds.
_EPOCH_2015 = 1_420_070_400


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, _WORKLOAD_IDS[workload]])


def _unique_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct positive ids in [1, 2^31), in random order."""
    ids = np.unique(rng.integers(1, 2**31 - 1, size=int(n * 1.05) + 16))
    return rng.permutation(ids)[:n]


def _heavy_tail(rng: np.random.Generator, n: int, total: int, sigma: float, minimum: int = 1) -> np.ndarray:
    """n counts >= minimum summing to exactly ``total``, drawn with
    lognormal weights: most patients are small, a few ICU-like patients
    dominate the row count. The exact total keeps every seed's input the
    same size."""
    w = rng.lognormal(0.0, sigma, n)
    return minimum + rng.multinomial(total - n * minimum, w / w.sum()).astype(np.int64)


def _fmt_times(seconds: np.ndarray, fmt: str) -> np.ndarray:
    """Format epoch seconds with a strftime pattern, vectorised via numpy
    datetime64 pieces (only %m %d %Y %H %M %S are used here)."""
    dt = seconds.astype("datetime64[s]")
    days = dt.astype("datetime64[D]")
    months = dt.astype("datetime64[M]")
    years = dt.astype("datetime64[Y]")
    sec_of_day = (dt - days).astype(np.int64)
    parts = {
        "%Y": (years.astype(np.int64) + 1970).astype(str),
        "%m": np.char.zfill((months.astype(np.int64) % 12 + 1).astype(str), 2),
        "%d": np.char.zfill(((days - months.astype("datetime64[D]")).astype(np.int64) + 1).astype(str), 2),
        "%H": np.char.zfill((sec_of_day // 3600).astype(str), 2),
        "%M": np.char.zfill((sec_of_day // 60 % 60).astype(str), 2),
        "%S": np.char.zfill((sec_of_day % 60).astype(str), 2),
    }
    out = np.full(len(seconds), "", dtype=object)
    rest = fmt
    while rest:
        if rest[:2] in parts:
            out = out + parts[rest[:2]].astype(object)
            rest = rest[2:]
        else:
            out = out + rest[0]
            rest = rest[1:]
    return out


def _csv_field(values: np.ndarray) -> np.ndarray:
    """Quote every non-empty field (the dates contain commas)."""
    values = values.astype(object)
    return np.where(values == "", "", '"' + values + '"')


def _num_field(values: np.ndarray, null_mask: np.ndarray) -> np.ndarray:
    text = np.array([repr(float(v)) for v in values], dtype=object)
    return np.where(null_mask, "", text)


def _write_csv_parts(path: str, header: list[str], columns: list[np.ndarray], n_files: int) -> None:
    os.makedirs(path)
    n = len(columns[0])
    lines = columns[0].astype(object)
    for c in columns[1:]:
        lines = lines + "," + c.astype(object)
    for i, chunk in enumerate(np.array_split(np.arange(n), n_files)):
        with open(os.path.join(path, f"part-{i:05d}.csv"), "w", newline="\n") as f:
            f.write(",".join(header) + "\n")
            f.write("\n".join(lines[chunk].tolist()))
            f.write("\n")


def _write_parquet_parts(path: str, table: pa.Table, n_files: int) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(np.int64)
    for i in range(n_files):
        part = table.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def gen_extract(rng: np.random.Generator, out: str, patients: int, files: int) -> dict:
    mrn = _unique_ids(rng, patients)
    dob = _EPOCH_2015 - rng.integers(18 * 365, 90 * 365, patients) * 86_400
    eye = rng.choice(np.array(["BLUE", "BROWN", "HAZEL", "GREEN"]), patients, p=[0.3, 0.45, 0.15, 0.1])
    eye = np.where(rng.random(patients) < 0.02, "", eye)
    height = rng.normal(168.0, 11.0, patients)
    _write_csv_parts(
        os.path.join(out, "subjects.csv"),
        ["MRN", "dob", "eye_color", "height"],
        [mrn.astype(str), _csv_field(_fmt_times(dob, "%m/%d/%Y")), _csv_field(eye),
         _num_field(height, np.zeros(patients, bool))],
        files,
    )

    # admissions per patient, then vitals readings per admission; each
    # vitals row repeats its admission's admit/discharge columns, as the
    # reference fixture does
    n_adm = _heavy_tail(rng, patients, 2 * patients, 0.7)
    adm_pid = np.repeat(mrn, n_adm)
    n_a = len(adm_pid)
    admit = _EPOCH_2015 + rng.integers(0, 5 * 365 * 86_400, n_a)
    los = rng.integers(6 * 3600, 20 * 86_400, n_a)
    dept = rng.choice(np.array(["CARDIAC", "PULMONARY", "ORTHOPEDIC"]), n_a)
    n_vit = _heavy_tail(rng, n_a, 15 * patients, 0.9)
    row_adm = np.repeat(np.arange(n_a), n_vit)
    n_rows = len(row_adm)
    vitals = admit[row_adm] + (rng.random(n_rows) * los[row_adm]).astype(np.int64)
    hr = np.round(rng.normal(82.0, 14.0, n_rows), 1)
    temp = np.round(rng.normal(97.8, 1.2, n_rows), 1)
    dt_fmt = "%m/%d/%Y, %H:%M:%S"
    _write_csv_parts(
        os.path.join(out, "admit_vitals.csv"),
        ["patient_id", "admit_date", "disch_date", "department", "vitals_date", "HR", "temp"],
        [
            adm_pid[row_adm].astype(str),
            _csv_field(_fmt_times(admit, dt_fmt)[row_adm]),
            _csv_field(_fmt_times(admit + los, dt_fmt)[row_adm]),
            _csv_field(dept[row_adm]),
            _csv_field(_fmt_times(vitals, dt_fmt)),
            _num_field(hr, rng.random(n_rows) < 0.05),
            _num_field(temp, rng.random(n_rows) < 0.05),
        ],
        files,
    )
    return {"subjects": patients, "admit_vitals": n_rows}


def _zipf_codes(rng: np.random.Generator, n: int, vocab: int, a: float) -> np.ndarray:
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks**-a
    return rng.choice(vocab, n, p=p / p.sum())


def gen_preprocess(rng: np.random.Generator, out: str, patients: int, files: int) -> dict:
    vocab = 2_500
    kinds = np.array(["LAB", "DX", "PROC", "MED", "VITAL"])
    code_names = np.array(
        [f"{kinds[i % len(kinds)]}//{i:05d}" for i in rng.permutation(vocab)], dtype=object
    )
    code_mean = rng.normal(50.0, 30.0, vocab)
    code_std = rng.uniform(0.5, 15.0, vocab)
    has_value = rng.random(vocab) < 0.6  # codes without values -> ~40% null values

    pids = np.sort(_unique_ids(rng, patients))
    n_events = _heavy_tail(rng, patients, 45 * patients, 1.1)
    ev_pid = np.repeat(pids, n_events)
    n_ev = len(ev_pid)
    # per-event times: each patient's events walk forward from a start
    gaps = rng.exponential(2.0 * 86_400, n_ev).astype(np.int64) + 60
    starts = np.repeat(_EPOCH_2015 + rng.integers(0, 3 * 365 * 86_400, patients), n_events)
    first = np.repeat(np.cumsum(n_events) - n_events, n_events)
    cum = np.cumsum(gaps)
    ev_time = starts + cum - cum[first]
    n_meas = _heavy_tail(rng, n_ev, 150 * patients, 0.6)
    row_ev = np.repeat(np.arange(n_ev), n_meas)
    n_dyn = len(row_ev)
    code = _zipf_codes(rng, n_dyn, vocab, 1.1)
    val = (code_mean[code] + code_std[code] * rng.standard_normal(n_dyn)).astype(np.float32)
    val_null = ~has_value[code] | (rng.random(n_dyn) < 0.02)

    # static rows (null time): eye colour + a height value per patient
    eye = rng.choice(np.array(["EYE_COLOR//BLUE", "EYE_COLOR//BROWN", "EYE_COLOR//HAZEL"]), patients)
    height = rng.normal(168.0, 11.0, patients).astype(np.float32)

    pid = np.concatenate([pids, pids, ev_pid[row_ev]])
    time_us = np.concatenate([
        np.full(2 * patients, -1, np.int64), ev_time[row_ev] * 1_000_000
    ])
    codes = np.concatenate([eye.astype(object), np.full(patients, "HEIGHT", object), code_names[code]])
    values = np.concatenate([np.zeros(patients, np.float32), height, val])
    nulls = np.concatenate([np.ones(patients, bool), np.zeros(patients, bool), val_null])
    order = np.lexsort((time_us, pid))  # MEDS order: patient, statics first, time
    time_null = time_us[order] < 0
    table = pa.table({
        "patient_id": pa.array(pid[order], pa.int64()),
        "time": pa.array(time_us[order], pa.timestamp("us"), mask=time_null),
        "code": pa.array(codes[order], pa.string()),
        "numeric_value": pa.array(values[order], pa.float32(), mask=nulls[order]),
    })
    _write_parquet_parts(os.path.join(out, "cohort.parquet"), table, files)
    return {"measurements": table.num_rows}


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(np.clip(rng.poisson(5) + 2, 2, 11))
        w = "".join(rng.choice(letters, n))
        r = rng.random()
        if r < 0.04:
            w = w[: n - 2] + "'" + w[n - 2 :]  # don't-style contraction
        elif r < 0.07:
            w = w + str(int(rng.integers(0, 100)))  # covid19-style token
        words.add(w)
    stop = ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"]
    return np.array(stop + sorted(words - set(stop)), dtype=object)


def gen_curation(rng: np.random.Generator, out: str, docs: int, files: int) -> dict:
    vocab = _vocabulary(rng, 20_000)
    n_words = _heavy_tail(rng, docs, 100 * docs, 0.6, minimum=3)
    total = int(n_words.sum())
    words = vocab[_zipf_codes(rng, total, len(vocab), 1.05)]
    offsets = np.concatenate([[0], np.cumsum(n_words)])

    # planted 20-word duplicate spans: copy an aligned tile of one document
    # over an aligned tile of another (the dedup tiles at multiples of 20)
    tiles = n_words // 20
    has_tile = np.flatnonzero(tiles >= 1)
    n_plant = docs // 6
    src = rng.choice(has_tile, n_plant)
    dst = rng.choice(has_tile, n_plant)
    for s, d in zip(src.tolist(), dst.tolist()):
        if s == d:
            continue
        si = offsets[s] + 20 * int(rng.integers(0, tiles[s]))
        di = offsets[d] + 20 * int(rng.integers(0, tiles[d]))
        words[di : di + 20] = words[si : si + 20]

    texts = np.array([" ".join(words[offsets[i] : offsets[i + 1]]) for i in range(docs)], dtype=object)

    # planted low-quality documents: digit runs, punctuation spam, no
    # stopwords, overlong tokens
    bad = rng.random(docs) < 0.08
    kind = rng.integers(0, 4, docs)
    for i in np.flatnonzero(bad).tolist():
        k = int(kind[i])
        n = int(n_words[i])
        if k == 0:
            texts[i] = " ".join(str(x) for x in rng.integers(0, 10**6, n))
        elif k == 1:
            texts[i] = " ".join(w + "!?;" for w in words[offsets[i] : offsets[i] + n])
        elif k == 2:
            texts[i] = " ".join(["zzzq"] * n)
        else:
            texts[i] = " ".join(w * 5 for w in words[offsets[i] : offsets[i] + n])

    lang = rng.choice(np.array(["en", "de", "fr", "es", "zh"]), docs, p=[0.45, 0.15, 0.15, 0.15, 0.1])
    source = np.array([f"src{i}" for i in rng.integers(0, 20, docs)], dtype=object)
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.astype(object), pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    _write_parquet_parts(os.path.join(out, "documents.parquet"), table, files)
    return {"documents": docs}


_GENERATORS = {"extract": gen_extract, "preprocess": gen_preprocess, "curation": gen_curation}


def _digest(root: str) -> tuple[str, int, int]:
    """sha256 over (relative path, bytes) of every input file, sorted."""
    h = hashlib.sha256()
    n_files = n_bytes = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "manifest.json":
                continue
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                data = f.read()
            h.update(data)
            n_files += 1
            n_bytes += len(data)
    return h.hexdigest(), n_files, n_bytes


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs to ``out`` (which must not exist) via a temporary
    sibling directory, so an interrupted run never leaves a partial
    cache entry."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = _GENERATORS[workload](_rng(workload, seed), tmp, **SIZES[workload])
    digest, n_files, n_bytes = _digest(tmp)
    manifest = {
        "workload": workload,
        "seed": seed,
        "size": SIZES[workload],
        "rows": rows,
        "files": n_files,
        "bytes": n_bytes,
        "sha256": digest,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, out)
    return manifest


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(_GENERATORS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    json.dump(generate(args.workload, args.seed, args.out), sys.stdout)
    print()


if __name__ == "__main__":
    main()
