"""Correctness gate: every timed iteration's output is compared with an
independent DuckDB computation over the same generated inputs.

``expected(workload, input_dir)`` runs the DuckDB side once per input and
returns the reference; ``check(workload, result, expected)`` raises
``Mismatch`` when an iteration's output disagrees with it.

- extract: row count, per-patient event counts and an order-insensitive
  hash of the written MEDS rows; patient splits that partition the cohort
  at the configured fractions; the all-codes metadata row.
- preprocess: the stage list replayed in SQL; the NRT files must hold the
  same patients, per-patient event and measurement counts, and the same
  (patient, event, code) multiset (exact, hashed), with time deltas and
  normalized values equal to a float64 tolerance.
- curation: ``oracle_sql()["curation_v2"]`` compared with the value
  normalisation of ``scripts/compare_oracle.py``.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os

import numpy as np

from workloads import PREPROCESS_CONFIGS, SPLIT_FRACS

#: Relative tolerance for float64 values the engine and DuckDB compute in
#: different summation orders (values are O(1)-O(100) z-scores and days).
RTOL, ATOL = 1e-6, 1e-9


class Mismatch(AssertionError):
    pass


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _int_digest(*cols: np.ndarray) -> str:
    """sha256 of integer rows sorted lexicographically: order-insensitive."""
    order = np.lexsort(cols[::-1])
    h = hashlib.sha256()
    for c in cols:
        h.update(np.ascontiguousarray(c[order], dtype=np.int64).tobytes())
    return h.hexdigest()


# --------------------------------------------------------------- extract

_DT = "%m/%d/%Y, %H:%M:%S"


def _extract_expected(input_dir: str) -> dict:
    con = _duckdb()
    con.execute(
        f"""CREATE VIEW subj AS SELECT * FROM read_csv('{input_dir}/subjects.csv/*.csv',
        header=true, columns={{'MRN':'BIGINT','dob':'VARCHAR','eye_color':'VARCHAR','height':'DOUBLE'}})"""
    )
    con.execute(
        f"""CREATE VIEW av AS SELECT * FROM read_csv('{input_dir}/admit_vitals.csv/*.csv',
        header=true, columns={{'patient_id':'BIGINT','admit_date':'VARCHAR','disch_date':'VARCHAR',
        'department':'VARCHAR','vitals_date':'VARCHAR','HR':'DOUBLE','temp':'DOUBLE'}})"""
    )
    con.execute(
        f"""CREATE TABLE ev AS SELECT patient_id, time, code, numeric_value::FLOAT AS numeric_value
        FROM (SELECT DISTINCT * FROM (
          SELECT MRN AS patient_id, NULL::TIMESTAMP AS time, 'EYE_COLOR//' || eye_color AS code,
                 NULL::DOUBLE AS numeric_value FROM subj WHERE eye_color IS NOT NULL
          UNION ALL SELECT MRN, NULL, 'HEIGHT', height FROM subj
          UNION ALL SELECT MRN, strptime(dob, '%m/%d/%Y'), 'DOB', NULL FROM subj
          UNION ALL SELECT patient_id, strptime(admit_date, '{_DT}'), 'ADMISSION//' || department, NULL
                    FROM av WHERE department IS NOT NULL
          UNION ALL SELECT patient_id, strptime(disch_date, '{_DT}'), 'DISCHARGE', NULL FROM av
          UNION ALL SELECT patient_id, strptime(vitals_date, '{_DT}'), 'HR', HR FROM av
          UNION ALL SELECT patient_id, strptime(vitals_date, '{_DT}'), 'TEMP', temp FROM av))"""
    )
    return _extract_summary(con, "ev")


def _extract_summary(con, table: str) -> dict:
    rows, row_hash, codes = con.execute(
        f"""SELECT count(*), sum(hash(patient_id, epoch_us(time), code, numeric_value))::VARCHAR,
        count(DISTINCT code) FROM {table}"""
    ).fetchone()
    patients, patient_hash = con.execute(
        f"""SELECT count(*), sum(hash(patient_id, n))::VARCHAR
        FROM (SELECT patient_id, count(*) AS n FROM {table} GROUP BY 1)"""
    ).fetchone()
    return {"rows": rows, "row_hash": row_hash, "codes": codes,
            "patients": patients, "patient_hash": patient_hash}


def _extract_check(result: dict, exp: dict) -> None:
    out = result["out_dir"]
    con = _duckdb()
    con.execute(
        f"""CREATE VIEW got AS SELECT * FROM read_parquet('{out}/data/*/*.parquet',
        hive_partitioning=true)"""
    )
    got = _extract_summary(con, "got")
    for k in ("rows", "row_hash", "patients", "patient_hash"):
        _require(got[k] == exp[k], f"extract {k}: got {got[k]} expected {exp[k]}")
    _require(result["rows"] == exp["rows"], f"extract summary rows {result['rows']} != {exp['rows']}")
    # every patient sits in exactly one split, at the configured fractions
    split_sizes = dict(con.execute(
        """SELECT split, count(*) FROM (SELECT patient_id, min(split) AS split,
        count(DISTINCT split) AS k FROM got GROUP BY 1) WHERE k = 1 GROUP BY 1"""
    ).fetchall())
    n = exp["patients"]
    cuts = np.round(np.cumsum(list(SPLIT_FRACS.values())) * n).astype(int)
    want = dict(zip(SPLIT_FRACS, np.diff(np.concatenate([[0], cuts])).tolist()))
    want = {k: v for k, v in want.items() if v}
    _require(split_sizes == want, f"extract split sizes {split_sizes} != {want}")
    total, n_codes = con.execute(
        f"""SELECT max(CASE WHEN code IS NULL THEN "code/n_occurrences" END), count(code)
        FROM read_parquet('{out}/metadata/codes/*.parquet')"""
    ).fetchone()
    _require(total == exp["rows"] and n_codes == exp["codes"],
             f"extract codes metadata: total {total} codes {n_codes}")


# ------------------------------------------------------------ preprocess


def _preprocess_expected(input_dir: str) -> dict:
    fp = PREPROCESS_CONFIGS["filter_patients"]
    min_pat = PREPROCESS_CONFIGS["filter_measurements"]["min_patients_per_code"]
    cutoff = PREPROCESS_CONFIGS["occlude_outliers"]["stddev_cutoff"]
    con = _duckdb()
    con.execute(
        f"""CREATE VIEW d0 AS SELECT patient_id, time::TIMESTAMP AS time, code, numeric_value
        FROM read_parquet('{input_dir}/cohort.parquet/*.parquet')"""
    )
    con.execute(
        f"""CREATE TABLE d1 AS SELECT * FROM d0 WHERE patient_id IN (
          SELECT patient_id FROM d0 GROUP BY 1
          HAVING count(*) >= {fp['min_measurements_per_patient']}
             AND count(DISTINCT time) + max(CASE WHEN time IS NULL THEN 1 ELSE 0 END)
                 >= {fp['min_events_per_patient']})"""
    )
    # code metadata on the patient-filtered data; vocab index over every
    # code it holds (the metadata track is not re-aggregated after the
    # measurement filter)
    con.execute(
        """CREATE TABLE m AS SELECT code, n_patients, mean,
          -- a rounding-negative variance is NaN in the engine's sqrt
          CASE WHEN var < 0 THEN 'NaN'::DOUBLE ELSE sqrt(var) END AS std,
          row_number() OVER (ORDER BY code ASC NULLS FIRST) AS vocab
        FROM (SELECT code, count(DISTINCT patient_id) AS n_patients, sum(v) / count(v) AS mean,
            sum(v * v) / count(v) - pow(sum(v) / count(v), 2) AS var
          FROM (SELECT *, CASE WHEN NOT isnan(numeric_value) THEN numeric_value END AS v FROM d1)
          GROUP BY code)"""
    )
    con.execute(
        f"""CREATE TABLE d4 AS SELECT d1.patient_id, d1.time, m.vocab AS code,
          CASE WHEN d1.numeric_value IS NULL THEN NULL
               WHEN abs(d1.numeric_value::DOUBLE - m.mean) <= {cutoff} * m.std
               THEN (d1.numeric_value::DOUBLE - m.mean) / m.std END AS value
        FROM d1 JOIN m USING (code)
        WHERE m.n_patients >= {min_pat} AND d1.time IS NOT NULL"""
    )
    ev = con.execute(
        """SELECT patient_id, k, delta FROM (
          SELECT patient_id, row_number() OVER w - 1 AS k,
            (epoch_us(time) - epoch_us(lag(time) OVER w)) / 1e6 / 86400.0 AS delta
          FROM (SELECT DISTINCT patient_id, time FROM d4)
          WINDOW w AS (PARTITION BY patient_id ORDER BY time))"""
    ).fetchnumpy()
    meas = con.execute(
        """SELECT patient_id, dense_rank() OVER (PARTITION BY patient_id ORDER BY time) - 1 AS k,
          code, value FROM d4"""
    ).fetchnumpy()
    # fetchnumpy masks NULLs; the NRT files hold NaN there
    nan_filled = lambda cols: {k: np.ma.filled(v, np.nan) for k, v in cols.items()}  # noqa: E731
    return {"events": nan_filled(ev), "meas": nan_filled(meas)}


def _read_nrt(nrt_dir: str) -> tuple[dict, dict]:
    """Flatten the NRT part files into per-event and per-measurement rows."""
    ev = {"patient_id": [], "k": [], "delta": []}
    meas = {"patient_id": [], "k": [], "code": [], "value": []}
    files = sorted(glob.glob(os.path.join(nrt_dir, "*.nrt.npz")))
    _require(bool(files), "preprocess: no NRT files written")
    for f in files:
        with np.load(f) as z:
            pid = z["patient_id"]
            ev_off = z["time_delta_days__offsets"]
            n_ev = np.diff(ev_off)
            _require(np.array_equal(z["code__offsets"], ev_off), f"{f}: code/event offsets differ")
            inner = z["code__inner_offsets"]
            _require(np.array_equal(z["numeric_value__inner_offsets"], inner), f"{f}: value offsets differ")
            ev_pid = np.repeat(pid, n_ev)
            k = np.arange(len(ev_pid)) - np.repeat(ev_off[:-1], n_ev)
            ev["patient_id"].append(ev_pid)
            ev["k"].append(k)
            ev["delta"].append(z["time_delta_days__values"])
            n_meas = np.diff(inner)
            meas["patient_id"].append(np.repeat(ev_pid, n_meas))
            meas["k"].append(np.repeat(k, n_meas))
            meas["code"].append(z["code__values"])
            meas["value"].append(z["numeric_value__values"])
    cat = lambda d: {k: np.concatenate(v) for k, v in d.items()}  # noqa: E731
    return cat(ev), cat(meas)


def _close(a: np.ndarray, b: np.ndarray) -> bool:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True))


def _preprocess_check(result: dict, exp: dict) -> None:
    ev, meas = _read_nrt(result["nrt_dir"])
    e_ev, e_meas = exp["events"], exp["meas"]
    _require(len(ev["k"]) == len(e_ev["k"]), f"preprocess events: {len(ev['k'])} != {len(e_ev['k'])}")
    _require(len(meas["k"]) == len(e_meas["k"]),
             f"preprocess measurements: {len(meas['k'])} != {len(e_meas['k'])}")
    o, eo = np.lexsort((ev["k"], ev["patient_id"])), np.lexsort((e_ev["k"], e_ev["patient_id"]))
    _require(np.array_equal(ev["patient_id"][o], e_ev["patient_id"][eo])
             and np.array_equal(ev["k"][o], e_ev["k"][eo]), "preprocess per-patient event counts differ")
    _require(_close(ev["delta"][o], e_ev["delta"][eo]), "preprocess time deltas differ")
    e_code = e_meas["code"].astype(np.float64)
    e_val = np.where(np.isnan(e_meas["value"].astype(np.float64)), np.nan, e_meas["value"])
    got_int = (meas["patient_id"], meas["k"], meas["code"].astype(np.int64))
    exp_int = (e_meas["patient_id"], e_meas["k"], e_code.astype(np.int64))
    _require(np.array_equal(meas["code"], np.round(meas["code"])), "preprocess codes are not integral")
    _require(_int_digest(*got_int) == _int_digest(*exp_int), "preprocess (patient, event, code) multiset differs")
    # values: sort within (patient, event, code) by value, NaN last
    o = np.lexsort((meas["value"], *got_int[::-1]))
    eo = np.lexsort((e_val, *exp_int[::-1]))
    _require(_close(meas["value"][o], e_val[eo]), "preprocess normalized values differ")


# -------------------------------------------------------------- curation


def _compare_oracle():
    """``scripts/compare_oracle.py``, imported by path (scripts/ is not a
    package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(root, "scripts", "compare_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _curation_expected(input_dir: str) -> dict:
    import __spark_entry__ as entry

    con = _duckdb()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{input_dir}/documents.parquet/*.parquet')"
    )
    cols, rows = _compare_oracle()._normalize(con.execute(entry.oracle_sql()["curation_v2"]).fetchdf())
    return {"cols": cols, "rows": rows}


def _curation_check(result: dict, exp: dict) -> None:
    import pandas as pd

    rows = result["rows"]
    pdf = pd.DataFrame([r.asDict() for r in rows], columns=list(rows[0].asDict()) if rows else None)
    cols, got = _compare_oracle()._normalize(pdf)
    _require(cols == exp["cols"], f"curation columns {cols} != {exp['cols']}")
    _require(got == exp["rows"], f"curation rows {got} != {exp['rows']}")


_EXPECTED = {"extract": _extract_expected, "preprocess": _preprocess_expected, "curation": _curation_expected}
_CHECK = {"extract": _extract_check, "preprocess": _preprocess_check, "curation": _curation_check}


def expected(workload: str, input_dir: str) -> dict:
    return _EXPECTED[workload](input_dir)


def check(workload: str, result: dict, exp: dict) -> None:
    _CHECK[workload](result, exp)
