"""Output checks, computed independently of the operators they check.

Every function here is pure (numpy/pandas only) and returns a list of
problems; an empty list means the output is correct.  Points are pandas
frames with columns ``series_id`` (str), ``ts_us`` (int64 epoch micros) and
``value`` (float64).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

MICROS = 1_000_000


def num_windows(n_samples: int, winlen: int, noverlap: int) -> int:
    """Full windows of one series (ragged tail dropped, as in ``Score``)."""
    if n_samples < winlen:
        return 0
    return (n_samples - winlen) // (winlen - noverlap) + 1


def expected_score_rows(
    series_samples: dict[str, int], winlen: int, noverlap: int, arity: int
) -> int:
    """Closed-form score-row count: windows per series times feature arity."""
    return arity * sum(
        num_windows(n, winlen, noverlap) for n in series_samples.values()
    )


def check_tier_totals(
    totals: dict[str, tuple[int, int, float]], expected_cnt: int
) -> list[str]:
    """``totals``: tier -> (rows, sum(cnt), sum(sum)), finest tier first.

    ``sum(cnt)`` of the finest tier must equal the closed-form score-row
    count, and every coarser tier must conserve ``cnt`` exactly and ``sum``
    up to float reassociation.
    """
    problems = []
    names = list(totals)
    _, cnt0, sum0 = totals[names[0]]
    if cnt0 != expected_cnt:
        problems.append(f"sum({names[0]}.cnt)={cnt0}, expected {expected_cnt}")
    for name in names[1:]:
        _, cnt, s = totals[name]
        if cnt != cnt0:
            problems.append(f"sum({name}.cnt)={cnt} != sum({names[0]}.cnt)={cnt0}")
        if not math.isclose(s, sum0, rel_tol=1e-9, abs_tol=1e-6):
            problems.append(f"sum({name}.sum)={s!r} != sum({names[0]}.sum)={sum0!r}")
    return problems


def window_timestamps_us(starts: np.ndarray, fs: float, origin: int) -> np.ndarray:
    """``timestamp_seconds(origin + win_start / fs)`` in epoch micros.

    Same double arithmetic as ``scores_to_points``; the micros truncate
    toward zero as Spark's double-to-timestamp cast does.
    """
    e = np.float64(origin) + starts.astype(np.float64) / np.float64(fs)
    return (e * MICROS).astype(np.int64)


def rollup_reference(points: pd.DataFrame, tier_seconds: int) -> pd.DataFrame:
    """numpy rollup of raw points into one tier (``rollup_points`` semantics).

    Output columns: series_id, bucket_us, cnt, sum, abs_sum, min, max, first,
    last, first_ts_us, last_ts_us.  ``abs_sum`` bounds the float error a
    different summation order may introduce.
    """
    p = points.sort_values(["series_id", "ts_us"], kind="stable").copy()
    sec = p["ts_us"].to_numpy() // MICROS
    p["bucket_us"] = (sec // tier_seconds) * tier_seconds * MICROS
    p["abs"] = p["value"].abs()
    g = p.groupby(["series_id", "bucket_us"], sort=True)
    return pd.DataFrame(
        {
            "cnt": g["value"].count(),
            "sum": g["value"].agg(lambda v: math.fsum(v)),
            "abs_sum": g["abs"].sum(),
            "min": g["value"].min(),
            "max": g["value"].max(),
            "first": g["value"].first(),
            "last": g["value"].last(),
            "first_ts_us": g["ts_us"].min(),
            "last_ts_us": g["ts_us"].max(),
        }
    ).reset_index()


def _bits(a) -> np.ndarray:
    return np.ascontiguousarray(np.asarray(a, dtype=np.float64)).view(np.int64)


def compare_tier(got: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    """Tier rows from Spark vs ``rollup_reference``.

    Keys, ``cnt``, ``min``, ``max``, ``first``, ``last`` and the first/last
    timestamps must be bit-equal.  ``sum`` may differ only by float
    reassociation (partial aggregates merge in partition order): at most
    1e-12 of the absolute sum.
    """
    keys = ["series_id", "bucket_us"]
    got = got.sort_values(keys).reset_index(drop=True)
    ref = ref.sort_values(keys).reset_index(drop=True)
    if len(got) != len(ref):
        return [f"{len(got)} tier rows, expected {len(ref)}"]
    problems = []
    for col in ["series_id", "bucket_us", "cnt", "first_ts_us", "last_ts_us"]:
        if not np.array_equal(got[col].to_numpy(), ref[col].to_numpy()):
            problems.append(f"column {col} differs")
    for col in ["min", "max", "first", "last"]:
        if not np.array_equal(_bits(got[col]), _bits(ref[col])):
            problems.append(f"column {col} is not bit-equal")
    err = np.abs(got["sum"].to_numpy() - ref["sum"].to_numpy())
    if np.any(err > 1e-12 * ref["abs_sum"].to_numpy() + 1e-300):
        problems.append("column sum differs beyond reassociation error")
    return problems


def expected_store(base: pd.DataFrame, late_batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Base points plus every late batch, exact duplicates kept once.

    An exact duplicate is the same (series, timestamp, value bits); a value
    correction at an existing timestamp is a new point.
    """
    allp = pd.concat([base, *late_batches], ignore_index=True)
    key = allp.assign(bits=_bits(allp["value"]))
    return allp[~key.duplicated(["series_id", "ts_us", "bits"])].reset_index(drop=True)


def compare_point_sets(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Decoded store vs expected points, as multisets of value bits."""

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        return (
            pd.DataFrame(
                {
                    "series_id": df["series_id"].astype(str).to_numpy(),
                    "ts_us": df["ts_us"].to_numpy(dtype=np.int64),
                    "bits": _bits(df["value"]),
                }
            )
            .sort_values(["series_id", "ts_us", "bits"])
            .reset_index(drop=True)
        )

    a, b = canon(got), canon(expected)
    if len(a) != len(b):
        return [f"store holds {len(a)} points, expected {len(b)}"]
    if not a.equals(b):
        return ["store points differ from base + late batches"]
    return []


def dashboard_reference(
    points: pd.DataFrame, day_start_us: int, tier_seconds: int = 3600
) -> pd.DataFrame:
    """One day's points -> tier rollup -> linear gap-fill, in numpy.

    Mirrors ``rollup_points`` + ``gapfill(method='linear')`` on ``avg``: a
    dense per-series bucket spine between the first and last observed
    bucket, gaps interpolated between the neighbouring observed buckets.
    Output columns: series_id, bucket_us, value, is_gap.
    """
    day = points[
        (points["ts_us"] >= day_start_us)
        & (points["ts_us"] < day_start_us + 86_400 * MICROS)
    ]
    tier = rollup_reference(day, tier_seconds)
    frames = []
    for sid, g in tier.groupby("series_id", sort=True):
        obs_t = g["bucket_us"].to_numpy() // MICROS
        obs_v = g["sum"].to_numpy() / g["cnt"].to_numpy()
        spine = np.arange(obs_t[0], obs_t[-1] + 1, tier_seconds, dtype=np.int64)
        pos = np.searchsorted(obs_t, spine)
        hit = (pos < len(obs_t)) & (obs_t[np.minimum(pos, len(obs_t) - 1)] == spine)
        value = np.empty(len(spine), dtype=np.float64)
        value[hit] = obs_v[pos[hit]]
        gap = ~hit
        nxt = pos[gap]  # first observed bucket after the gap
        prv = nxt - 1
        pt, nt = obs_t[prv], obs_t[nxt]
        pv, nv = obs_v[prv], obs_v[nxt]
        value[gap] = pv + (nv - pv) * ((spine[gap] - pt) / (nt - pt))
        frames.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "bucket_us": spine * MICROS,
                    "value": value,
                    "is_gap": gap,
                }
            )
        )
    if not frames:
        return pd.DataFrame(
            {"series_id": [], "bucket_us": [], "value": [], "is_gap": []}
        )
    return pd.concat(frames, ignore_index=True)


def compare_dashboard(got: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    """A dashboard read vs ``dashboard_reference``: same keys and gap flags,
    values equal up to the reassociation error of the bucket sums."""
    keys = ["series_id", "bucket_us"]
    got = got.sort_values(keys).reset_index(drop=True)
    ref = ref.sort_values(keys).reset_index(drop=True)
    if len(got) != len(ref):
        return [f"read returned {len(got)} rows, expected {len(ref)}"]
    problems = []
    if not (
        np.array_equal(got["series_id"].to_numpy(), ref["series_id"].to_numpy())
        and np.array_equal(
            got["bucket_us"].to_numpy(dtype=np.int64),
            ref["bucket_us"].to_numpy(dtype=np.int64),
        )
    ):
        problems.append("read keys differ")
    if not np.array_equal(
        got["is_gap"].to_numpy(dtype=bool), ref["is_gap"].to_numpy(dtype=bool)
    ):
        problems.append("read gap flags differ")
    if not np.allclose(
        got["value"].to_numpy(dtype=np.float64),
        ref["value"].to_numpy(dtype=np.float64),
        rtol=1e-9,
        atol=1e-12,
    ):
        problems.append("read values differ")
    return problems
