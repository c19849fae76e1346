"""Output checks. None of them is timed.

- digest: an order-independent (row count, hash sum) over every output
  column, computed inside the timed Spark action through DataFrame.observe,
  so every pass of one seed can be compared without a second execution.
- spot checks: a few entities (always including the hot one) recomputed in
  numpy/pandas from the closed-form generators, compared with allclose.
- catalog: each reference query against its DuckDB oracle, with the
  comparison of tools/check_correctness.py.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from pyspark.sql import Observation
from pyspark.sql import functions as F

from mpds_spark.sources import synth

RTOL = 1e-9
ATOL = 1e-9


def observed(df, name: str):
    """(df with a digest observation attached, the Observation)."""
    obs = Observation(name)
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(1 << 40))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(h).alias("hash")), obs


def digest_of(observations) -> tuple[int, int]:
    return digest_sum((o.get["rows"], o.get["hash"] or 0) for o in observations)


def digest_sum(digests) -> tuple[int, int]:
    """Combine (rows, hash) digests of disjoint parts of one output."""
    rows = hsum = 0
    for r, h in digests:
        rows += r
        hsum += h
    return rows, hsum


def frames_close(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> list[str]:
    """Columns of got that differ from want (same row order), NaN == NaN."""
    bad = []
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    for c in cols:
        a = got[c].to_numpy(dtype=float)
        b = want[c].to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True):
            bad.append(c)
    return bad


# ---------------------------------------------------------------- pandas
# references of the operators the workloads chain, for one entity's rows
# sorted by ts.


def ref_derived(t: np.ndarray, v: np.ndarray) -> dict[str, np.ndarray]:
    """windows.derived_features (dssFunctionLibrary.R:876-917)."""
    line = np.arange(1, len(t) + 1)
    cs = np.cumsum
    dv = np.concatenate([[0.0], np.diff(v)])
    dt = np.concatenate([[1.0], np.abs(np.diff(t))])
    rate, abs_rate = dv / dt, np.abs(dv) / dt
    ht, ht2 = cs(t), cs(t * t)
    out = {
        "dss_avg": cs(v) / line,
        "dss_ht_avg": cs(v * t) / ht,
        "dss_ht_sq_avg": cs(v * t * t) / ht2,
        "dss_max": np.maximum.accumulate(v),
        "dss_min": np.minimum.accumulate(v),
        "dss_rate_avg": cs(rate) / line,
        "dss_rate_ht_avg": cs(rate * t) / ht,
        "dss_abs_rate_avg": cs(abs_rate) / line,
        "dss_abs_rate_ht_avg": cs(abs_rate * t) / ht,
    }
    return {k: np.where(np.isnan(x), 0.0, x) for k, x in out.items()}


DERIVED = list(ref_derived(np.ones(1), np.ones(1)))


def ref_asof(left: pd.DataFrame, right: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Backward as-of on ts with exact matches (pandas.merge_asof)."""
    r = right[["ts", *cols]].rename(columns={"ts": "ts_r"}).sort_values("ts_r")
    return pd.merge_asof(
        left.sort_values("ts"), r, left_on="ts", right_on="ts_r",
        direction="backward", allow_exact_matches=True,
    )


# -------------------------------------------------------- sequence extract


def seq_reference(seed: int, n_docs: int, n_entities: int, hot_frac: float,
                  ent: str) -> pd.DataFrame:
    """Battery dss (token mean) -> derived_features -> as-of against the
    every-10th-doc events, for one entity, from synth's closed form."""
    i = np.arange(n_docs, dtype=np.int64)
    bucket, ts, n_tok, _ = synth.derive_fields(i, seed, n_entities, hot_frac)
    sel = np.flatnonzero(bucket == int(ent.split("_")[1]))
    sel = sel[np.argsort(ts[sel], kind="mergesort")]
    t = ts[sel]
    dss = np.array([synth.tokens_for(int(k), int(n_tok[k]), seed).mean() for k in sel])
    doc_ids = [f"doc_{k:010d}" for k in sel]
    out = pd.DataFrame({"doc_id": doc_ids, "ts": t, "dss": dss})
    for k, x in ref_derived(t, dss).items():
        out[k] = x
    is_ev = np.array([zlib.crc32(d.encode()) % 10 == 0 for d in doc_ids], dtype=bool)
    right = pd.DataFrame({"ts": t[is_ev], "event_val": dss[is_ev]})
    return ref_asof(out, right, ["event_val"])


SEQ_COLS = ["dss", *DERIVED, "ts_r", "event_val"]


def spot_entities(n_entities: int, seed: int, k: int = 3) -> list[str]:
    """The hot entity plus k-1 others picked by the seed."""
    rng = np.random.default_rng(seed)
    others = rng.choice(np.arange(1, n_entities), size=k - 1, replace=False)
    return [f"ent_{e:05d}" for e in [0, *sorted(others)]]


def compare_entity(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> list[str]:
    got = got.sort_values("ts", kind="mergesort").reset_index(drop=True)
    want = want.sort_values("ts", kind="mergesort").reset_index(drop=True)
    return frames_close(got, want, ["ts", *cols])


# ----------------------------------------------------------------- catalog


def catalog_check(name: str, result: pd.DataFrame, sf_dir: str, oracle_sql: str) -> str:
    """Status of one catalog result against its DuckDB oracle: EXACT or
    NO_ORACLE(rows-only) pass, anything else fails."""
    from tools.check_correctness import compare, duck_run

    if oracle_sql is None:
        return "NO_ORACLE(rows-only)"
    return compare(name, result, duck_run(sf_dir, oracle_sql))["status"]
