"""Signal-kernel registry entries — now mostly DRIVER-VALUE-CHECKED.

Round 3 converted six of the eight round-2 rows-only kernels to full
DuckDB value-oracles by (a) deriving their inputs from the shared
events parquet (identical bits in both engines), (b) keeping the REAL
Arrow kernels on the Spark side, and (c) replaying the numerics in SQL
with op-for-op IEEE fidelity: pure index arithmetic (synchronize m=0),
exact-grid integer math (baseline Cramer), recursive-CTE folds for the
sequential recurrences (spline Thomas sweeps, DF2T filtfilt cascades,
the Nigam–Jennings oscillator), and engine-computed constants embedded
as exact mantissa·2^exp literals.  Round 4 closed the last gap:
signal_fas is value-checked too — dsp.fft_radix2 pins the butterflies
to ONE IEEE op order that _fas_replay_sql folds through staged CTEs
(np.fft's butterflies have no fixed order; an in-repo iterative
radix-2 does).  Even the Gorilla/DoD blob payload is value-checked,
via the decode roundtrip in queries_ts.cascade_blob_roundtrip (the
transcript-shaped blob cascade stays pytest-pinned in test_rollup.py
+ benched).

The long-series seeded-datagen fixtures (FIXTURES.md F2) stay as pytest
coverage for the vectorized-scan paths the short driver fixtures don't
take."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_process_spark.operators import analytics


def q_signal_ellip_bandpass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elliptic (rp=0.1 dB, rs=100 dB) zero-phase band-pass incl. the
    1.5·N/fmin zero-pad rule — the reference's family='ellip' path
    (ts_library.py:836-884, scipy.signal.ellip + filtfilt), designed
    from closed forms in dsp.ellip_sos — VALUE-CHECKED bit-exactly at
    the driver: the DuckDB oracle replays pad → odd-extension → the
    4-biquad DF2T cascade forward+backward as recursive-CTE folds with
    the engine's own runtime coefficients embedded as literals (see
    _filtfilt_replay_sql).  Equiripple spec + the long-series fixture
    stay pytest-pinned (tests/test_dsp.py::test_ellip_design_meets_spec)."""
    sig = _event_sig(spark, sf_dir, cnt_min=28, rn_cap=64, dt=0.01)
    out = analytics.filter_signals(
        sig, "bandpass", fmin=2.0, fmax=8.0, family="ellip", rp=0.1,
        rs=100.0, cols=("acc",),
    )
    return out.select(
        "series_id",
        F.col("i").cast("long").alias("i"),
        (F.col("acc") + F.lit(0.0)).alias("acc_f"),
    )


def q_signal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial baseline correction (baseline_function,
    ts_library.py:619-684) — VALUE-CHECKED bit-exactly at the driver.

    Order 3 drops the constant+linear terms, leaving a 2-unknown normal
    system that dsp.polimod solves by explicit Cramer (one fixed
    expression tree).  On this fixture every intermediate is EXACT
    float64: acc = integer cents, dt = 1 → the trapezoid integrals live
    on 0.25-grids < 2^53, the Vandermonde moments are exact integers
    (Σt⁶ ≤ 32·31⁶ ≈ 3e10), and the b-moments are exact 0.25-grid sums —
    so summation ORDER is irrelevant and the only rounding happens in
    det/c₂/c₃/corrections, identical single IEEE ops on both engines.
    The order-5 fixture variant (LAPACK path) stays pytest-pinned.
    The +0.0 on the outputs canonicalizes -0.0 on both engines."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sig = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 32)
        .select(
            F.col("user_id").cast("string").alias("series_id"),
            F.lit("h1").alias("component"),
            F.lit(0.0).alias("orientation_deg"),
            (F.col("rn") - 1).cast("int").alias("i"),
            F.lit(1.0).alias("dt"),
            F.round(F.col("value") * 100).alias("acc"),
            F.lit(0.0).alias("vel"),
            F.lit(0.0).alias("dis"),
        )
    )
    out = analytics.baseline_signals(sig, order=3)
    return out.select(
        "series_id",
        F.col("i").cast("long").alias("i"),
        (F.col("acc") + F.lit(0.0)).alias("amod"),
        (F.col("vel") + F.lit(0.0)).alias("vmod"),
        (F.col("dis") + F.lit(0.0)).alias("dmod"),
    )


# mirrors dsp.baseline_correction order-3 op-for-op (integrate→integrate→
# polimod Cramer→analytic corrections); every op is either exact or the
# identical single IEEE-754 instruction on both engines — see
# q_signal_baseline docstring for the exactness budget
SQL_SIGNAL_BASELINE = """
WITH t AS (
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts NULLS FIRST, event_id) - 1 AS i,
           CAST(round(value * 100) AS DOUBLE) AS acc
    FROM events
    QUALIFY i < 32
), v AS (
    SELECT series_id, i, acc,
           coalesce(sum(pair) OVER (PARTITION BY series_id ORDER BY i
                                    ROWS UNBOUNDED PRECEDING), 0.0)
             + (first_value(acc) OVER (PARTITION BY series_id ORDER BY i)
                * 1.0) / 2.0 AS vel
    FROM (SELECT *, (acc + lag(acc) OVER (PARTITION BY series_id ORDER BY i))
                    * (1.0 / 2.0) AS pair
          FROM t)
), d AS (
    SELECT series_id, i, acc, vel,
           coalesce(sum(pair2) OVER (PARTITION BY series_id ORDER BY i
                                     ROWS UNBOUNDED PRECEDING), 0.0)
             + (first_value(vel) OVER (PARTITION BY series_id ORDER BY i)
                * 1.0) / 2.0 AS dis
    FROM (SELECT *, (vel + lag(vel) OVER (PARTITION BY series_id ORDER BY i))
                    * (1.0 / 2.0) AS pair2
          FROM v)
), x AS (
    SELECT *, CAST(i AS DOUBLE) AS td,
           CAST(i AS DOUBLE) * CAST(i AS DOUBLE) AS t2,
           (CAST(i AS DOUBLE) * CAST(i AS DOUBLE)) * CAST(i AS DOUBLE) AS t3
    FROM d
), m AS (
    SELECT series_id,
           sum(t2 * t2) AS a11, sum(t2 * t3) AS a12, sum(t3 * t3) AS a22,
           sum(t2 * dis) AS b1, sum(t3 * dis) AS b2
    FROM x GROUP BY series_id
), c AS (
    SELECT series_id,
           (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS c2,
           (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS c3
    FROM m
)
SELECT x.series_id, x.i,
       ((x.acc - (((c.c2 * 2.0) * 1.0) + (((c.c3 * 3.0) * 2.0) * x.td))) / 1.0)
           + 0.0 AS amod,
       (x.vel - (((c.c2 * 2.0) * x.td) + ((c.c3 * 3.0) * x.t2))) + 0.0 AS vmod,
       (x.dis - ((c.c2 * x.t2) + (c.c3 * x.t3))) + 0.0 AS dmod
FROM x JOIN c USING (series_id)
"""


def _event_sig(
    spark: SparkSession, sf_dir: str, cnt_min: int, rn_cap: int, dt: float
) -> DataFrame:
    """Per-user signal-table series from the shared events parquet:
    acc = the raw `value` doubles (identical bits in both engines),
    vel/dis = 0.  Users shorter than cnt_min are dropped and series are
    capped at rn_cap rows so the oracle's fold depth is bounded."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .where((F.col("cnt") >= cnt_min) & (F.col("rn") <= rn_cap))
        .select(
            F.col("user_id").cast("string").alias("series_id"),
            F.lit("h1").alias("component"),
            F.lit(0.0).alias("orientation_deg"),
            (F.col("rn") - 1).cast("int").alias("i"),
            F.lit(dt).alias("dt"),
            F.col("value").alias("acc"),
            F.lit(0.0).alias("vel"),
            F.lit(0.0).alias("dis"),
        )
    )


def _dlit(v: float) -> str:
    """Exact DOUBLE literal for DuckDB.  NOT a decimal literal: DuckDB
    1.0's string→DOUBLE parse is off by 1 ulp for some 17-digit values
    (found the hard way), so encode the exact IEEE bits as mantissa·2^exp
    — both factors and the product are exact (the multiply only shifts
    the exponent)."""
    m, e = math.frexp(float(v))
    return f"({int(m * (1 << 53))}::DOUBLE * power(2.0::DOUBLE, ({e - 53})::DOUBLE))"


def _filtfilt_replay_sql(
    *,
    dt: float,
    btype: str,
    fmin: float = 0.0,
    fmax: float = 0.0,
    N: int = 4,
    family: str = "butter",
    rp: float = 0.1,
    rs: float = 100.0,
    cnt_min: int,
    rn_cap: int,
) -> str:
    """Generate the DuckDB replay of filter_signals over _event_sig:
    the same zero-pad rule, odd-extension, zi·x₀ steady-state seed and
    the DF2T biquad cascade as ONE recursive CTE per pass.

    Bit-exactness: dsp.sosfilt takes the literal sequential loop for
    series under 512 samples, i.e. exactly these fixtures, so every
    sample is the same fixed chain of IEEE ops on both engines; the SOS
    and zi coefficients are computed HERE by the same dsp design code
    the engine runs and embedded as full-precision literals."""
    import numpy as np

    from ts_process_spark.functions.dsp import _sos_zi, design_sos

    sos = design_sos(dt, btype, fmin=fmin, fmax=fmax, N=N,
                     family=family, rp=rp, rs=rs)
    zi = _sos_zi(sos)
    ns = sos.shape[0]
    pad = 0
    if fmin and btype in ("highpass", "bandpass"):
        tz_pad = (1.5 * N / fmin) / dt  # dsp.pad_for_highpass
        pad = int(np.round(tz_pad / 2.0))
    padlen = 3 * (2 * ns + 1)
    # padlen must be the constant min(3·ntaps, len-1) for every series
    assert cnt_min + 2 * pad - 1 >= padlen, "series too short for pad rule"

    lit = _dlit

    def step(w: str, z: list[list[str]]) -> tuple[str, list[list[str]]]:
        """One DF2T cascade step (dsp.sosfilt_seq): returns (y, new z)."""
        cur = w
        newz = []
        for s in range(ns):
            b0, b1, b2, _a0, a1, a2 = sos[s]
            xn = f"(({lit(b0)} * {cur}) + {z[s][0]})"
            newz.append([
                f"((({lit(b1)} * {cur}) - ({lit(a1)} * {xn})) + {z[s][1]})",
                f"(({lit(b2)} * {cur}) - ({lit(a2)} * {xn}))",
            ])
            cur = xn
        return cur, newz

    zcols = [f"z{s}{j}" for s in range(ns) for j in (0, 1)]

    def pass_sql(name: str, src: str, w_base: str, w_step: str,
                 seed: str, carry: str) -> str:
        """Recursive CTE for one filtering pass.  seed = the scalar the
        steady-state zi is scaled by (zi·x₀ / zi·y[-1])."""
        z0 = [[f"({lit(zi[s][j])} * {seed})" for j in (0, 1)] for s in range(ns)]
        y_b, z_b = step(w_base, z0)
        zref = [[f"z{s}0", f"z{s}1"] for s in range(ns)]
        y_s, z_s = step(w_step, zref)
        base_cols = ", ".join(
            f"{e} AS {c}" for e, c in zip(
                [x for pair in z_b for x in pair], zcols)
        )
        step_cols = ", ".join(x for pair in z_s for x in pair)
        return f"""{name} AS (
    SELECT series_id, n, L, {carry}, 1 AS idx, {y_b} AS y, {base_cols}
    FROM {src}
    UNION ALL
    SELECT series_id, n, L, {carry}, idx + 1, {y_s}, {step_cols}
    FROM {name} WHERE idx + 1 <= L
)"""

    zeros = f"list_transform(generate_series(1, {pad}), q -> (0.0)::DOUBLE)"
    lxp = (
        f"list_concat(list_concat({zeros}, lx0), {zeros})" if pad else "lx0"
    )
    f1 = pass_sql(
        "f1", "ext",
        w_base="e[1]", w_step="e[idx + 1]",
        seed="e[1]", carry="e",
    )
    f2 = pass_sql(
        "f2", "y1l",
        w_base="ly1[L]", w_step="ly1[L - idx]",
        seed="ly1[L]", carry="ly1",
    )
    off = padlen + pad  # engine strips filtfilt padlen, then the zero pad
    return f"""
WITH RECURSIVE t AS (
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts NULLS FIRST, event_id) - 1 AS i,
           value AS x
    FROM events
    QUALIFY count(*) OVER (PARTITION BY user_id) >= {cnt_min}
        AND i < {rn_cap}
), ser AS (
    SELECT series_id, count(*) AS n, list(x ORDER BY i) AS lx0
    FROM t GROUP BY 1
), padded AS (
    SELECT series_id, n, {lxp} AS lx, n + {2 * pad} AS np FROM ser
), ext AS (
    SELECT series_id, n, np + {2 * padlen} AS L,
           list_concat(
               list_concat(
                   list_transform(generate_series({padlen + 1}, 2, -1),
                                  k -> ((2.0)::DOUBLE * lx[1]) - lx[k]),
                   lx),
               list_transform(generate_series(np - 1, np - {padlen}, -1),
                              k -> ((2.0)::DOUBLE * lx[np]) - lx[k])
           ) AS e
    FROM padded
), {f1}, y1l AS (
    SELECT series_id, n, L, list(y ORDER BY idx) AS ly1
    FROM f1 GROUP BY series_id, n, L
), {f2}, y2l AS (
    SELECT series_id, n, L, list(y ORDER BY idx) AS ly2
    FROM f2 GROUP BY series_id, n, L
), grid AS (
    SELECT series_id, L, ly2,
           unnest(generate_series(0, n - 1)) AS i
    FROM y2l
)
SELECT series_id, CAST(i AS BIGINT) AS i,
       ly2[L - {off} - i] + (0.0)::DOUBLE AS acc_f
FROM grid
"""


def q_signal_fas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourier amplitude spectrum (ts_library.py:411-437) with the
    next-pow-2 point count (get_points, :380-391) — VALUE-CHECKED
    bit-exactly at the driver.

    On fixtures ≤ dsp._FFT_EXACT_MAX points the engine takes the
    fixed-op-order iterative radix-2 DIT FFT (dsp.fft_radix2): separate
    re/im float64 arrays, each butterfly the explicit 4-mul/2-add
    product, twiddles generated by a pure-IEEE recurrence from one
    (cos, sin) base per stage.  The DuckDB oracle (_fas_replay_sql)
    replays the identical chain: bit-reversal by unrolled shift
    arithmetic, the per-stage twiddle recurrence as a recursive CTE
    seeded with the engine's own base doubles as mantissa·2^exp
    literals, one list_transform per butterfly stage, the explicit
    sqrt(re²+im²)·dt amplitude, the int-trunc fmin/fmax slice, and the
    reference's sequential 3-point smoother as a list_append fold.
    Series lengths vary (28–64), so the oracle also replays get_points'
    per-series power-of-2 choice (np ∈ {32, 64, 128} ⇒ 5–7 live
    stages).  The long-series np.fft path stays pytest-pinned ≈ the
    iterative path at tolerance (tests/test_dsp.py)."""
    sig = _event_sig(spark, sf_dir, cnt_min=28, rn_cap=64, dt=0.01)
    return analytics.fas_signals(sig, fmin=2.0, fmax=10.0)


def q_signal_rotd50_grid63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RotD50 over the reference's EXACT 63-period output domain
    (rotd50.f:36-45) with its Famp1.5 first-crossing scalar
    (rotd50.f:238-246) appended per station — VALUE-CHECKED bit-exactly
    at the driver (the Fortran-subprocess replacement, end to end).

    Stations come from event_type, the horizontal pair from event_id
    parity.  On ≤64-sample series dsp.oscillator_response takes the
    literal Nigam–Jennings loop (a fixed IEEE chain), and every
    transcendental constant — the per-period oscillator coefficients,
    w², and the cos/sin of the 90 Fortran-quirk rotation angles — is
    computed at oracle-build time BY THE SAME dsp CODE the engine runs
    and embedded as exact mantissa·2^exp literals, so the DuckDB replay
    (recursive-CTE oscillator fold → amplitude pre-filter → 180-value
    rotation scan → rank-90/91 median → Famp1.5) needs no trig at all.
    The 1024-sample fixture variant stays pytest-pinned."""
    from pyspark.sql import Window

    from ts_process_spark.functions.dsp import ROTD50_PERIODS_FULL

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    comp = (F.col("event_id") % 2 == 0)
    w0 = Window.partitionBy("event_type", comp).orderBy("ts", "event_id")
    sig = (
        ev.withColumn("rn", F.row_number().over(w0))
        .where(F.col("rn") <= 64)
        .select(
            F.concat(
                F.col("event_type"),
                F.when(comp, F.lit("-h1")).otherwise(F.lit("-h2")),
            ).alias("series_id"),
            F.when(comp, F.lit("h1")).otherwise(F.lit("h2")).alias("component"),
            F.when(comp, F.lit(0.0)).otherwise(F.lit(90.0)).alias(
                "orientation_deg"
            ),
            (F.col("rn") - 1).cast("int").alias("i"),
            F.lit(0.01).alias("dt"),
            F.col("value").alias("acc"),
            F.lit(0.0).alias("vel"),
            F.lit(0.0).alias("dis"),
        )
    )
    rd = analytics.rotd50_stations(sig, periods=list(ROTD50_PERIODS_FULL))
    # Famp1.5 (rotd50.f:238-246): frequency 1/T of the FIRST period
    # past the anchor where rotd50/rotd50[T=0.01] >= 1.5 — min period
    # over the filtered set, inverted; pure JVM (SURVEY O4)
    w = Window.partitionBy("station")
    ref0 = F.first(F.when(F.col("period") == 0.01, F.col("rotd50")), True).over(w)
    famp = 1.0 / F.min(
        F.when(
            (F.col("period") > 0.01) & (F.col("rotd50") >= 1.5 * ref0),
            F.col("period"),
        )
    ).over(w)
    return rd.withColumn("famp15", famp).select(
        "station",
        "period",
        (F.col("psa_h1") + F.lit(0.0)).alias("psa_h1"),
        (F.col("psa_h2") + F.lit(0.0)).alias("psa_h2"),
        (F.col("rotd50") + F.lit(0.0)).alias("rotd50"),
        (F.col("famp15") + F.lit(0.0)).alias("famp15"),
    )


def q_signal_synchronize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """synchronize_all_stations (process_timeseries.py:45-141) —
    VALUE-CHECKED at the driver (round-2 VERDICT ask #1): the sync plan
    is pure cut/pad index arithmetic, so with taper m=0 the whole
    operator is exactly expressible in SQL.  Input: one station per
    event_type over the shared events table (val = exact integer cents,
    dt = 0.25 — a power of two, so every dt·n product and plan division
    is float-EXACT on both engines).  Exercises branch 2 of the plan
    (stamp 7 > eq 6): obs pad_front int((7−6)/0.25)=4, others cut_front
    int((6−4)/0.25)=8, then common-end truncation + 1-sample repair.
    The Kaiser-taper (m>0) variant stays pytest-pinned
    (tests/test_analytics.py — the Bessel window has no SQL form)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    sig = ev.select(
        F.concat(F.col("event_type"), F.lit("-h1")).alias("series_id"),
        F.lit("h1").alias("component"),
        F.lit(0.0).alias("orientation_deg"),
        (F.row_number().over(w) - 1).cast("int").alias("i"),
        F.lit(0.25).alias("dt"),
        F.round(F.col("value") * 100).alias("acc"),  # exact int as double
        F.lit(0.0).alias("vel"),
        F.lit(0.0).alias("dis"),
    )
    out = analytics.synchronize_stations(
        sig, obs_station="click", stamp_s=7.0, eq_time_s=6.0, leading=2.0, m=0
    )
    return out.select(
        "series_id",
        F.col("i").cast("long").alias("i"),
        F.col("acc").cast("long").alias("val_c"),  # pass-through ints + 0 pads
    )


# the oracle replicates plan_synchronization branch 2 (analytics.py:182)
# as CASE arithmetic: trunc() = Python int() truncation (NOT CAST, which
# rounds in DuckDB); all plan floats are exact (dt = 0.25)
SQL_SIGNAL_SYNCHRONIZE = """
WITH t AS (
    SELECT event_type AS station,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts NULLS FIRST, event_id) - 1 AS i,
           CAST(round(value * 100) AS BIGINT) AS val_c
    FROM events
), st AS (SELECT station, count(*) AS n FROM t GROUP BY 1),
p1 AS (  -- step 1, branch stamp(7) > eq(6): pad obs front, cut others
    SELECT station, n,
           CASE WHEN station = 'click'
                THEN CAST(trunc((7.0 - 6.0) / 0.25) AS BIGINT)
                ELSE 0 END AS padf,
           CASE WHEN station <> 'click'
                AND trunc((6.0 - 4.0) / 0.25) > 0
                AND trunc((6.0 - 4.0) / 0.25) < n
                THEN CAST(trunc((6.0 - 4.0) / 0.25) AS BIGINT)
                ELSE 0 END AS cutf
    FROM st
), p2 AS (SELECT *, n + padf - cutf AS n1 FROM p1),
p3 AS (SELECT *, (SELECT min(0.25 * n1) FROM p2) AS target FROM p2),
p4 AS (  -- step 2: truncate to min common duration
    SELECT *,
           CASE WHEN trunc((0.25 * n1 - target) / 0.25) > 0
                AND trunc((0.25 * n1 - target) / 0.25) < n1
                THEN CAST(trunc((0.25 * n1 - target) / 0.25) AS BIGINT)
                ELSE 0 END AS cute
    FROM p3
), p5 AS (SELECT *, n1 - cute AS n2 FROM p4),
p6 AS (SELECT *, (SELECT max(n2) FROM p5) AS total FROM p5),
p7 AS (  -- step 3: one-sample repair
    SELECT *, n2 + CASE WHEN n2 = total - 1 THEN 1 ELSE 0 END AS nfin
    FROM p6
), grid AS (
    SELECT station, padf, cutf, n2,
           unnest(generate_series(0, nfin - 1)) AS i
    FROM p7
)
SELECT g.station || '-h1' AS series_id, g.i AS i,
       CASE WHEN g.i < g.padf THEN 0
            WHEN g.i >= g.n2 THEN 0
            ELSE t.val_c END AS val_c
FROM grid g
LEFT JOIN t ON t.station = g.station AND t.i = g.i - g.padf + g.cutf
"""


def q_signal_process_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's main pipeline stage fused into one Arrow pass
    (process_timeseries_dt, ts_library.py:992-1043): interp dispatch →
    Butterworth-lowpass filtfilt — VALUE-CHECKED bit-exactly at the
    driver via the same filtfilt fold replay as signal_ellip_bandpass
    (new_dt == dt exercises the no-op interp branch; the decimate and
    taper stages are value-checked by decimate4 / taper_tukey, and the
    full interp→taper→filter fixture composition stays pytest-pinned:
    tests/test_analytics.py::test_process_signals_dt_matches_kernel_composition)."""
    sig = _event_sig(spark, sf_dir, cnt_min=16, rn_cap=64, dt=0.01)
    out = analytics.process_signals_dt(sig, new_dt=0.01, fmax=5.0, taper=None)
    return out.select(
        "series_id",
        F.col("i").cast("long").alias("i"),
        (F.col("acc") + F.lit(0.0)).alias("acc_f"),
    )


def q_signal_spline_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural-cubic-spline 2× upsample per series (the reference's
    InterpSpline, rotd50.f:311-348 / spline.f / splint.f) — VALUE-CHECKED
    bit-exactly at the driver.

    On a UNIT grid the Thomas sweeps in dsp.spline_second_derivs use
    only exact constants (σ = 0.5, h = 1, the 6·Δ²y numerators are exact
    half-integers), so the whole recurrence is a fixed chain of IEEE ops
    that the DuckDB oracle replays with two recursive CTEs (the forward
    c′/u sweep and the back-substitution); at the midpoints the blend
    weights collapse to the exact constants (0.5, −0.375).  Sequential-
    by-nature per series, parallel across series — the fixture variant
    (dense grid, 1024 samples) stays pytest-pinned."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from ts_process_spark.functions.dsp import spline_interp

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id")
    src = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .where((F.col("cnt") >= 8) & (F.col("rn") <= 24))
        .select(
            F.col("user_id").cast("string").alias("series_id"),
            (F.col("rn") - 1).cast("int").alias("i"),
            F.round(F.col("value") * 100).alias("y"),
        )
    )

    def up(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i")
        x = pdf["i"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        xq = np.arange(0.0, x[-1] + 0.5, 0.5)
        v = spline_interp(x, y, xq) + 0.0  # canonicalize -0.0
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "t2x": (2.0 * xq).astype(np.int64),  # exact 2·t_idx
                "vel": v,
            }
        )

    return src.groupBy("series_id").applyInPandas(
        up, "series_id string, t2x long, vel double"
    )


# op-for-op replay of dsp.spline_second_derivs + spline_interp on the
# unit grid (see q_signal_spline_upsample): fwd = the Thomas forward
# sweep (cp_k = −0.5/p_k, u_k), bwd = the back substitution, midpoints
# blend with the exact constants.  ly/ly2 are 1-indexed DuckDB lists.
SQL_SIGNAL_SPLINE = """
WITH RECURSIVE t AS (
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts NULLS FIRST, event_id) - 1 AS i,
           CAST(round(value * 100) AS DOUBLE) AS y
    FROM events
    QUALIFY count(*) OVER (PARTITION BY user_id) >= 8 AND i < 24
), ser AS (
    SELECT series_id, count(*) AS n, list(y ORDER BY i) AS ly
    FROM t GROUP BY 1
), fwd AS (
    SELECT series_id, n, ly, 1 AS k,
           (-0.5::DOUBLE)::DOUBLE / ((0.5::DOUBLE * 0.0::DOUBLE) + 2.0::DOUBLE) AS cp,
           ((6.0::DOUBLE * (((ly[3] - ly[2]) / 1.0::DOUBLE) - ((ly[2] - ly[1]) / 1.0::DOUBLE))) / 2.0
            - 0.5::DOUBLE * 0.0::DOUBLE) / ((0.5::DOUBLE * 0.0::DOUBLE) + 2.0::DOUBLE) AS u
    FROM ser WHERE n > 2
    UNION ALL
    SELECT series_id, n, ly, k + 1,
           (-0.5::DOUBLE)::DOUBLE / ((0.5::DOUBLE * cp) + 2.0::DOUBLE),
           ((6.0::DOUBLE * (((ly[k + 3] - ly[k + 2]) / 1.0::DOUBLE)
                    - ((ly[k + 2] - ly[k + 1]) / 1.0::DOUBLE))) / 2.0
            - 0.5::DOUBLE * u) / ((0.5::DOUBLE * cp) + 2.0::DOUBLE)
    FROM fwd WHERE k + 1 <= n - 2
), fwd2 AS (
    SELECT series_id, 0 AS k, 0.0::DOUBLE AS cp, 0.0::DOUBLE AS u FROM ser
    UNION ALL
    SELECT series_id, k, cp, u FROM fwd
), bwd AS (
    SELECT series_id, n, n - 1 AS k, 0.0::DOUBLE AS y2 FROM ser
    UNION ALL
    SELECT b.series_id, b.n, b.k - 1, (f.cp * b.y2) + f.u
    FROM bwd b JOIN fwd2 f ON f.series_id = b.series_id AND f.k = b.k - 1
    WHERE b.k - 1 >= 0
), y2l AS (
    SELECT series_id, list(y2 ORDER BY k) AS ly2 FROM bwd GROUP BY 1
), grid AS (
    SELECT series_id, n, ly,
           unnest(generate_series(0, 2 * (n - 1))) AS j
    FROM ser
)
SELECT g.series_id, g.j AS t2x,
       CASE WHEN g.j % 2 = 0 THEN g.ly[g.j // 2 + 1] + 0.0
            ELSE (((0.5::DOUBLE * g.ly[(g.j - 1) // 2 + 1])
                   + (0.5::DOUBLE * g.ly[(g.j - 1) // 2 + 2]))
                  + ((((-0.375)::DOUBLE * z.ly2[(g.j - 1) // 2 + 1])
                      + ((-0.375)::DOUBLE * z.ly2[(g.j - 1) // 2 + 2])) * 1.0::DOUBLE) / 6.0::DOUBLE)
                 + 0.0
       END AS vel
FROM grid g JOIN y2l z USING (series_id)
"""


def _rotd50_replay_sql(
    dt: float = 0.01, damping: float = 0.05, rn_cap: int = 64
) -> str:
    """DuckDB replay of q_signal_rotd50_grid63 (dsp.rotd50 +
    oscillator_response_seq + the Famp1.5 window) — see that query's
    docstring for why this is bit-exact.  All transcendental constants
    (Nigam–Jennings coefficients, w², the Fortran-quirk angle cos/sin)
    are computed HERE by the same dsp code the engine runs."""
    import numpy as np

    from ts_process_spark.functions import dsp

    ps = np.array(sorted(float(p) for p in dsp.ROTD50_PERIODS_FULL))
    prow = []
    for pidx, period in enumerate(ps):
        w = 2.0 * np.pi / period
        (a11, a12, a21, a22), (b11, b12, b21, b22) = dsp.oscillator_coeffs(
            w, damping, dt
        )
        t2 = w**2
        prow.append(
            f"({pidx}, {_dlit(period)}, {_dlit(a11)}, {_dlit(a12)}, "
            f"{_dlit(a21)}, {_dlit(a22)}, {_dlit(b11)}, {_dlit(b12)}, "
            f"{_dlit(b21)}, {_dlit(b22)}, {_dlit(t2)})"
        )
    periods_sql = (
        "SELECT * FROM (VALUES\n        "
        + ",\n        ".join(prow)
        + "\n    ) AS p(pidx, period, a11, a12, a21, a22, b11, b12, b21, b22, t2)"
    )
    angles = np.radians(np.arange(90) * (3.14159 / np.pi))  # rotd50.f's π
    cosr, sinr = np.cos(angles), np.sin(angles)
    arow = [
        f"({k}, {_dlit(cosr[k])}, {_dlit(sinr[k])})" for k in range(90)
    ]
    angles_sql = (
        "SELECT * FROM (VALUES\n        "
        + ",\n        ".join(arow)
        + "\n    ) AS a(k, cosr, sinr)"
    )

    def dstep(d: str, v: str, ap: str, xn: str, comp: str) -> tuple[str, str]:
        """Nigam–Jennings state update, the exact Python op grouping:
        (((a·d) + (a·v)) + (b·a_prev)) + (b·x)."""
        dp = f"((((a11 * {d}) + (a12 * {v})) + (b11 * {ap})) + (b12 * {xn}))"
        vp = f"((((a21 * {d}) + (a22 * {v})) + (b21 * {ap})) + (b22 * {xn}))"
        return dp, vp

    Z = "(0.0)::DOUBLE"
    dp1_0, vp1_0 = dstep(Z, Z, Z, "x1[1]", "1")
    dp2_0, vp2_0 = dstep(Z, Z, Z, "x2[1]", "2")
    dp1_s, vp1_s = dstep("d1", "v1", "ap1", "x1[i + 2]", "1")
    dp2_s, vp2_s = dstep("d2", "v2", "ap2", "x2[i + 2]", "2")

    return f"""
WITH RECURSIVE base AS (
    -- ((x % 2) + 2) % 2: C-semantics remainder is negative for negative
    -- event_ids; normalize so parity matches Spark's (event_id % 2 == 0)
    SELECT event_type AS station, ((event_id % 2) + 2) % 2 AS comp,
           row_number() OVER (PARTITION BY event_type, ((event_id % 2) + 2) % 2
                              ORDER BY ts NULLS FIRST, event_id) - 1 AS i,
           value AS x
    FROM events
    QUALIFY i < {rn_cap}
), l1 AS (
    SELECT station, count(*) AS n1, list(x ORDER BY i) AS lx1
    FROM base WHERE comp = 0 GROUP BY 1
), l2 AS (
    SELECT station, count(*) AS n2, list(x ORDER BY i) AS lx2
    FROM base WHERE comp = 1 GROUP BY 1
), pair AS (
    SELECT station, least(n1, n2) AS n,
           lx1[1:least(n1, n2)] AS x1, lx2[1:least(n1, n2)] AS x2
    FROM l1 JOIN l2 USING (station)
), periods AS (
    {periods_sql}
), angles AS (
    {angles_sql}
), osc AS (
    SELECT station, pidx, n, x1, x2,
           a11, a12, a21, a22, b11, b12, b21, b22, t2,
           0 AS i,
           {dp1_0} AS d1, {vp1_0} AS v1, x1[1] AS ap1,
           {dp2_0} AS d2, {vp2_0} AS v2, x2[1] AS ap2,
           {dp1_0} * t2 AS th1, {dp2_0} * t2 AS th2
    FROM pair CROSS JOIN periods
    UNION ALL
    SELECT station, pidx, n, x1, x2,
           a11, a12, a21, a22, b11, b12, b21, b22, t2,
           i + 1,
           {dp1_s}, {vp1_s}, x1[i + 2],
           {dp2_s}, {vp2_s}, x2[i + 2],
           {dp1_s} * t2, {dp2_s} * t2
    FROM osc WHERE i + 1 <= n - 1
), sa AS (
    SELECT station, pidx, max(abs(th1)) AS sa1, max(abs(th2)) AS sa2
    FROM osc GROUP BY 1, 2
), masked AS (
    SELECT o.station, o.pidx, o.th1, o.th2
    FROM osc o JOIN sa USING (station, pidx)
    WHERE greatest(abs(o.th1), abs(o.th2)) > least(sa.sa1, sa.sa2) / 1.5::DOUBLE
), rot AS (
    SELECT m.station, m.pidx, a.k,
           max(abs((a.cosr * m.th1) - (a.sinr * m.th2))) AS sax,
           max(abs((a.sinr * m.th1) + (a.cosr * m.th2))) AS say
    FROM masked m CROSS JOIN angles a
    GROUP BY 1, 2, 3
), agg AS (
    SELECT station, pidx,
           list(sax ORDER BY k) AS lx, list(say ORDER BY k) AS ly
    FROM rot GROUP BY 1, 2
), res AS (
    SELECT station, pidx, lx[1] AS psa_h1, ly[1] AS psa_h2,
           (list_sort(list_concat(lx, ly))[90]
            + list_sort(list_concat(lx, ly))[91]) / 2.0::DOUBLE AS rotd50
    FROM agg
), fin AS (
    SELECT r.station, r.pidx, p.period, r.psa_h1, r.psa_h2, r.rotd50
    FROM res r JOIN periods p USING (pidx)
), f0 AS (
    SELECT station, max(CASE WHEN pidx = 0 THEN rotd50 END) AS ref0
    FROM fin GROUP BY 1
), fam AS (
    SELECT fin.station,
           1.0::DOUBLE / min(CASE WHEN fin.pidx > 0
                             AND fin.rotd50 >= 1.5::DOUBLE * f0.ref0
                             THEN fin.period END) AS famp15
    FROM fin JOIN f0 USING (station) GROUP BY fin.station
)
SELECT fin.station, fin.period,
       fin.psa_h1 + (0.0)::DOUBLE AS psa_h1,
       fin.psa_h2 + (0.0)::DOUBLE AS psa_h2,
       fin.rotd50 + (0.0)::DOUBLE AS rotd50,
       fam.famp15 + (0.0)::DOUBLE AS famp15
FROM fin JOIN fam USING (station)
"""


def _fas_replay_sql(
    cnt_min: int = 28,
    rn_cap: int = 64,
    dt: float = 0.01,
    fmin: float = 2.0,
    fmax: float = 10.0,
) -> str:
    """DuckDB replay of fas_signals over _event_sig, op-for-op against
    dsp.fft_radix2 + dsp.smooth_seq (see q_signal_fas docstring).

    Exactness argument: every arithmetic step on both engines is a
    single IEEE-754 double op in the same order — (a·b − c·d) butterfly
    products (NumPy emits separate un-fused ufunc calls; SQL scalar ops
    round identically), correctly-rounded sqrt, exact ±0 zero-padding,
    integer bit-reversal, and twiddles that are the SAME doubles by
    construction (the per-stage recurrence seeded from
    dsp.fft_stage_base values embedded as exact mantissa·2^exp
    literals, never re-derived via SQL trig)."""
    from ts_process_spark.functions import dsp

    max_np = 1 << rn_cap.bit_length()  # 128 for rn_cap=64
    max_st = max_np.bit_length() - 1  # 7
    inv = _dlit(1.0 / dt)
    dlt = _dlit(dt)

    bases = ",\n        ".join(
        "({s}, {br}, {bi})".format(
            s=s,
            br=_dlit(dsp.fft_stage_base(s)[0]),
            bi=_dlit(dsp.fft_stage_base(s)[1]),
        )
        for s in range(1, max_st + 1)
    )
    # get_points: np = 2^bit_length(n)  (always strictly > n's power)
    np_arms, st_arms = [], []
    for st in range(max_st, 1, -1):
        thr = 1 << (st - 1)
        np_arms.append(f"WHEN n >= {thr} THEN {1 << st}")
        st_arms.append(f"WHEN n >= {thr} THEN {st}")
    np_case = "CASE " + " ".join(np_arms) + " ELSE 2 END"
    st_case = "CASE " + " ".join(st_arms) + " ELSE 1 END"
    # bit-reversal of p at per-series width st, unrolled (p < 2^st so
    # bits ≥ st are zero; the CASE guards the would-be-negative shifts)
    rev = " + ".join(
        f"(CASE WHEN {b} < st THEN (((p >> {b}) & 1) << (st - 1 - {b})) "
        "ELSE 0 END)"
        for b in range(max_st)
    )

    stage_ctes = []
    prev, pre, pim = "perm", "re0", "im0"
    for s in range(1, max_st + 1):
        half, size = 1 << (s - 1), 1 << s
        q = f"(p % {size})"

        def bf(a_re: bool) -> str:
            er = pre if a_re else pim
            # t_re = or·wr − oi·wi ; t_im = or·wi + oi·wr
            if a_re:
                t_hi = (
                    f"(d.{pre}[p + {half} + 1] * w.lwr[{q} + 1] "
                    f"- d.{pim}[p + {half} + 1] * w.lwi[{q} + 1])"
                )
                t_lo = (
                    f"(d.{pre}[p + 1] * w.lwr[{q} - {half} + 1] "
                    f"- d.{pim}[p + 1] * w.lwi[{q} - {half} + 1])"
                )
            else:
                t_hi = (
                    f"(d.{pre}[p + {half} + 1] * w.lwi[{q} + 1] "
                    f"+ d.{pim}[p + {half} + 1] * w.lwr[{q} + 1])"
                )
                t_lo = (
                    f"(d.{pre}[p + 1] * w.lwi[{q} - {half} + 1] "
                    f"+ d.{pim}[p + 1] * w.lwr[{q} - {half} + 1])"
                )
            return (
                f"CASE WHEN {q} < {half} THEN d.{er}[p + 1] + {t_hi} "
                f"ELSE d.{er}[p - {half} + 1] - {t_lo} END"
            )

        stage_ctes.append(
            f"""s{s} AS (
    SELECT d.series_id, d.n, d.np, d.st,
           CASE WHEN {s} > d.st THEN d.{pre}
                ELSE list_transform(generate_series(0, d.np - 1),
                                    p -> {bf(True)}) END AS re{s},
           CASE WHEN {s} > d.st THEN d.{pim}
                ELSE list_transform(generate_series(0, d.np - 1),
                                    p -> {bf(False)}) END AS im{s}
    FROM {prev} d JOIN twl w ON w.s = {s}
)"""
        )
        prev, pre, pim = f"s{s}", f"re{s}", f"im{s}"

    stages_sql = ",\n".join(stage_ctes)
    return f"""
WITH RECURSIVE t AS (
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts NULLS FIRST, event_id) - 1 AS i,
           value AS x
    FROM events
    QUALIFY count(*) OVER (PARTITION BY user_id) >= {cnt_min}
        AND i < {rn_cap}
), ser AS (
    SELECT series_id, count(*) AS n, list(x ORDER BY i) AS lx
    FROM t GROUP BY 1
), dims AS (
    SELECT series_id, CAST(n AS BIGINT) AS n, {np_case} AS np,
           {st_case} AS st, lx
    FROM ser
), stage_base AS (
    SELECT * FROM (VALUES
        {bases}
    ) AS b(s, br, bi)
), twr AS (
    SELECT s, 0 AS k, (1.0)::DOUBLE AS wr, (0.0)::DOUBLE AS wi
    FROM stage_base
    UNION ALL
    SELECT tw.s, tw.k + 1,
           tw.wr * b.br - tw.wi * b.bi,
           tw.wr * b.bi + tw.wi * b.br
    FROM twr tw JOIN stage_base b ON b.s = tw.s
    WHERE tw.k + 1 < (1 << (tw.s - 1))
), twl AS (
    SELECT s, list(wr ORDER BY k) AS lwr, list(wi ORDER BY k) AS lwi
    FROM twr GROUP BY s
), padded AS (
    SELECT series_id, n, np, st,
           list_transform(generate_series(0, np - 1),
               p -> CASE WHEN p < n THEN lx[p + 1]
                         ELSE (0.0)::DOUBLE END) AS lpad
    FROM dims
), perm AS (
    SELECT series_id, n, np, st,
           list_transform(generate_series(0, np - 1),
               p -> lpad[1 + ({rev})]) AS re0,
           list_transform(generate_series(0, np - 1),
               p -> (0.0)::DOUBLE) AS im0
    FROM padded
),
{stages_sql},
spec AS (
    SELECT series_id, np,
           CAST(trunc(({_dlit(fmin)}) / ({inv} / CAST(np AS DOUBLE)))
                AS BIGINT) AS inif,
           CAST(trunc(({_dlit(fmax)}) / ({inv} / CAST(np AS DOUBLE)))
                AS BIGINT) + 1 AS endf,
           list_transform(generate_series(0, np - 1),
               p -> sqrt(re{max_st}[p + 1] * re{max_st}[p + 1]
                         + im{max_st}[p + 1] * im{max_st}[p + 1])
                    * {dlt}) AS lamp
    FROM s{max_st}
), sliced AS (
    SELECT series_id, np, inif, endf - inif AS m,
           list_transform(generate_series(1, endf - inif),
                          j -> lamp[inif + j]) AS ls
    FROM spec
), sm AS (
    SELECT series_id, np, inif, m, ls, 1 AS i, [ls[1]] AS ly FROM sliced
    UNION ALL
    SELECT series_id, np, inif, m, ls, i + 1,
           list_append(ly, CASE WHEN i <= m - 2
               THEN ((0.5)::DOUBLE * ls[i + 1] + (0.25)::DOUBLE * ly[i])
                    + (0.25)::DOUBLE * ls[i + 2]
               ELSE ls[i + 1] END)
    FROM sm WHERE i < m
), fin AS (
    SELECT series_id, np, inif, ly,
           unnest(generate_series(1, m)) AS j
    FROM sm WHERE i = m
)
SELECT series_id,
       ({inv} * CAST(inif + j - 1 AS DOUBLE)) / CAST(np AS DOUBLE) AS freq,
       ly[j] AS amplitude
FROM fin
"""


def queries_signals() -> dict[str, object]:
    """Driver registry (signal-kernel slice) — rows-only entries.

    Trimmed to the non-redundant kernels so the whole registry fits the
    driver's 50-entry evaluation window (VERDICT r1 #2): signal_lowpass
    and signal_resample_decimate are strict sub-stages of
    signal_process_dt; signal_bandpass_padded is subsumed by
    signal_ellip_bandpass (same btype + pad rule, richer family);
    signal_rotate_station is value-checked at the driver via
    queries_ts.rotmax_scan (and taper via taper_tukey);
    signal_rotd50 is subsumed by signal_rotd50_grid63;
    transcript_cascade_1m/1d by queries_ts.cascade_blob_roundtrip
    (which value-checks the blob payload itself).  All dropped
    variants remain pytest-pinned (tests/test_analytics.py,
    tests/test_dsp.py, tests/test_rollup.py)."""
    return {
        "signal_ellip_bandpass": q_signal_ellip_bandpass,
        "signal_baseline_correct": q_signal_baseline,
        "signal_fas": q_signal_fas,
        "signal_spline_upsample": q_signal_spline_upsample,
        "signal_process_dt": q_signal_process_dt,
        "signal_synchronize": q_signal_synchronize,
        "signal_rotd50_grid63": q_signal_rotd50_grid63,
    }


def oracles_signals() -> dict[str, str]:
    """DuckDB value-oracles for the signal kernels, now including FAS
    (round-3 VERDICT ask #1): the iterative radix-2 FFT gave the
    butterflies a fixed IEEE op order, so the staged-CTE replay below
    value-checks the whole spectrum pipeline.  Only the Gorilla blob
    cascade remains outside this module's SQL reach (and its payload is
    value-checked via queries_ts.cascade_blob_roundtrip)."""
    return {
        "signal_fas": _fas_replay_sql(
            cnt_min=28, rn_cap=64, dt=0.01, fmin=2.0, fmax=10.0
        ),
        "signal_synchronize": SQL_SIGNAL_SYNCHRONIZE,
        "signal_baseline_correct": SQL_SIGNAL_BASELINE,
        "signal_spline_upsample": SQL_SIGNAL_SPLINE,
        "signal_process_dt": _filtfilt_replay_sql(
            dt=0.01, btype="lowpass", fmax=5.0, N=4, family="butter",
            cnt_min=16, rn_cap=64,
        ),
        "signal_ellip_bandpass": _filtfilt_replay_sql(
            dt=0.01, btype="bandpass", fmin=2.0, fmax=8.0, N=4,
            family="ellip", rp=0.1, rs=100.0, cnt_min=28, rn_cap=64,
        ),
        "signal_rotd50_grid63": _rotd50_replay_sql(),
    }
