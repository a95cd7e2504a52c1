"""The benchmark's workloads.  Each drives the engine only through its
public calls and checks what the engine returned against numpy.

A workload makes its inputs (``make_inputs``), builds its store and runs
one untimed warm-up operation (``warmup``), then runs ``op`` a fixed number
of times in the timed phase.  ``check_op`` judges one operation's outputs
and ``final_check`` the store left at the end; each returns a list of
problems, empty when correct.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import reference as R
from inputs import SOURCES, concat, day_batches
from spans import exchanges, parquet_scans

from pyg_timeseries_spark.compress.chunks import decompress_series
from pyg_timeseries_spark.kernels import ewm_numpy
from pyg_timeseries_spark.operators import expanding, fill, rolling, shift
from pyg_timeseries_spark.operators import ts as T
from pyg_timeseries_spark.operators.ewm import ewma_
from pyg_timeseries_spark.plans.pipeline import TimeseriesEngine
from pyg_timeseries_spark.plans.rollup import rollup_all_tiers


class Workload:
    name = ""
    op_budget_s = 10.0  # one operation's cost on a 4-vCPU host; sizes the timed phase

    def __init__(self, spark, tracer, workdir: str, seed: int, n_ops: int):
        self.spark, self.tracer, self.seed, self.n_ops = spark, tracer, seed, n_ops
        self.input_dir = os.path.join(workdir, "input")
        self.store_path = os.path.join(workdir, "store")
        os.makedirs(self.input_dir)
        self.input_rows = 0

    def layer_counts(self) -> dict:
        """Parquet scans in the plan of each store table after the last op."""
        store = self.engine.store
        return {f"checkpoint.read_table.scans.{t}": parquet_scans(store.read_table(t))
                for t in ("rollup_1m", "rollup_1h", "rollup_1d", "tokens_1m")}


class DailyAppend(Workload):
    """Each operation ingests one more day and applies retention."""

    name = "daily_append"
    op_budget_s = 12.0
    ROWS_PER_DAY = 8_000
    KEEP_1M = 2_160  # 1m buckets kept by the 1m tier and the token table (1.5 days)

    def make_inputs(self) -> dict:
        self.batches = day_batches(self.seed, 1 + self.n_ops, self.ROWS_PER_DAY)
        for k, b in enumerate(self.batches):
            b.write(self._path(k))
        self.input_rows = sum(map(len, self.batches))
        return {"days": len(self.batches), "rows": self.input_rows,
                "tokens": int(sum(len(b.tokens) for b in self.batches))}

    def _path(self, k: int) -> str:
        return os.path.join(self.input_dir, f"day_{k:03d}.parquet")

    def _cycle(self, k: int) -> list[str]:
        self.engine.ingest(self.spark.read.parquet(self._path(k)))
        self.engine.expire("1m", self.KEEP_1M)
        self.engine.store.expire_tokens(self.KEEP_1M)
        self.engine.store.expire_snapshots(keep=2)
        return sorted(self.engine.store.last_ingest_stats["touched_parts"])

    def warmup(self) -> None:
        self.engine = TimeseriesEngine(self.spark, self.store_path)
        self._cycle(0)

    def op(self, i: int) -> list[str]:
        return self._cycle(i + 1)

    def check_op(self, i: int, touched: list[str]) -> list[str]:
        days = np.unique(self.batches[i + 1].ts_s // 86_400 * 86_400)
        want = [str(np.datetime64(int(d), "s").astype("datetime64[D]")) for d in days]
        return [] if touched == want else [f"op {i}: touched {touched}, want {want}"]

    def final_check(self) -> list[str]:
        everything = concat(self.batches)
        newest = int(everything.ts_s.max()) // 60 * 60
        cutoff = newest - (self.KEEP_1M - 1) * 60
        one_shot = rollup_all_tiers(self.spark.read.parquet(self.input_dir), tokens=None)
        one_shot["1m"] = one_shot["1m"].persist()  # the 1h and 1d plans reuse it
        one_shot["1m"] = one_shot["1m"].filter(F.unix_seconds("bucket") >= cutoff)
        got = R.collect_tiers({
            **{f"store {t}": self.engine.tier(t) for t in ("1m", "1h", "1d")},
            **{f"one-shot rollup_all_tiers {t}": df for t, df in one_shot.items()},
        })
        problems = []
        for name, pdf in got.items():
            tier = name.rsplit(" ", 1)[1]
            want = R.rollup(everything, tier, cutoff if tier == "1m" else None)
            if not R.frames_equal(pdf, want):
                problems.append(f"{name} differs from numpy")
        # token arrays: the 1m chunks and their per-(source, day) flattening
        tiers = ("1m", "1d")
        got = R.collect_token_hashes({t: self.engine.store.read_tokens(t) for t in tiers})
        for t in tiers:
            if got[t] != R.token_hashes(everything, t, cutoff):
                problems.append(f"read_tokens({t!r}) differs from numpy")
        return problems


class TierAnalytics(Workload):
    """Each operation is one query round over a store built once."""

    name = "tier_analytics"
    op_budget_s = 6.0
    ROWS_PER_DAY = 8_000
    DAYS = 1
    EWMA_N = 30
    LAGS = (1, 2, 5)
    VR_Q = 5
    HURST_SCALES = (1, 2, 4, 8, 16)
    ROLL_N = 10

    def make_inputs(self) -> dict:
        self.data = concat(day_batches(self.seed, self.DAYS, self.ROWS_PER_DAY))
        self.data.write(os.path.join(self.input_dir, "days.parquet"))
        self.input_rows = len(self.data)
        self.want = {t: R.rollup(self.data, t) for t in ("1m", "1h", "1d")}
        self.want_tokens_1h = R.token_hashes(self.data, "1h")
        m1 = self.want["1m"]
        self.series = {s: m1.loc[m1["source"] == s, "sum_n_tok"].to_numpy(np.float64)
                       for s in SOURCES}
        return {"days": self.DAYS, "rows": self.input_rows,
                "tokens": int(len(self.data.tokens)), "rows_1m": len(m1)}

    def warmup(self) -> None:
        self.engine = TimeseriesEngine(self.spark, self.store_path)
        self.engine.ingest(self.spark.read.parquet(self.input_dir))
        self._round("warmup")

    def op(self, i: int) -> dict:
        return self._round(f"r{i}")

    def _m1(self):
        return self.engine.tier("1m").select(
            F.col("source").alias("key"), F.col("bucket").alias("ts"),
            F.col("sum_n_tok").cast("double").alias("v"),
        )

    def _diagnostics(self):
        m1 = self._m1()
        return {
            "acf": T.ts_acf(m1, lags=self.LAGS),
            "ljungbox": T.ts_ljungbox(m1, lags=self.LAGS),
            "variance_ratio": T.ts_variance_ratio(m1, q=self.VR_Q),
            "hurst": T.ts_hurst(m1, scales=self.HURST_SCALES),
        }

    def _window_chain(self):
        x = rolling.rolling_mean(self._m1(), self.ROLL_N, out="rm")
        x = fill.ffill(x, v="rm", out="ff")
        x = shift.diff(x, out="d")
        x = expanding.cumsum(x, out="cs")
        return x.select("key", F.unix_micros("ts").alias("ts"), "rm", "ff", "d", "cs")

    def _round(self, tag: str) -> dict:
        eng, out = self.engine, {}
        with self.tracer.span("checkpoint.read_table"):
            out.update(R.collect_tiers({t: eng.tier(t) for t in ("1h", "1d")}))
        with self.tracer.span("rollup.tokens_read"):
            out["tokens_1h"] = R.collect_token_hashes(
                {"1h": eng.store.read_tokens("1h")})["1h"]
        with self.tracer.span("ewm.apply"):
            data = eng.apply(ewma_, "1m", f"ewma_{tag}", n=self.EWMA_N)
            out["ewma"] = data.select("key", F.unix_micros("ts").alias("ts"),
                                      "ewma").toPandas()
        for diag, df in self._diagnostics().items():
            with self.tracer.span(f"ts.{diag}"):
                out[diag] = df.toPandas().set_index("key")
        with self.tracer.span("window_ops"):
            out["window"] = self._window_chain().toPandas()
        with self.tracer.span("compress.encode"):
            chunks = eng.compress_tier("1m")
        with self.tracer.span("compress.decode"):
            out["decoded"] = decompress_series(chunks).select(
                "source", F.unix_micros("bucket").alias("bucket"), "sum_n_tok",
            ).toPandas()
        return out

    def check_op(self, i: int, out: dict) -> list[str]:
        problems = []
        for t in ("1h", "1d"):
            if not R.frames_equal(out[t], self.want[t]):
                problems.append(f"scan of rollup_{t} differs from numpy")
        if out["tokens_1h"] != self.want_tokens_1h:
            problems.append("read_tokens('1h') differs from numpy")
        m1 = self.want["1m"]
        for s, x in self.series.items():
            ew = out["ewma"][out["ewma"]["key"] == s].sort_values("ts")
            if not np.array_equal(ew["ewma"].to_numpy(np.float64),
                                  ewm_numpy.ewma(x, self.EWMA_N)[0], equal_nan=True):
                problems.append(f"ewma_ over {s} differs from the kernel")
            want = {  # diagnostic -> (output columns, numpy values)
                "acf": ([f"acf_{k}" for k in self.LAGS], R.acf(x, self.LAGS)),
                "ljungbox": (["lb_q"], [R.ljungbox(x, self.LAGS)]),
                "variance_ratio": (["variance_ratio"], [R.variance_ratio(x, self.VR_Q)]),
                "hurst": (["hurst"], [R.hurst(x, self.HURST_SCALES)]),
            }
            for diag, (cols, vals) in want.items():
                got = [None if pd.isna(g) else float(g) for g in out[diag].loc[s, cols]]
                if not all(R.close(g, w) for g, w in zip(got, vals)):
                    problems.append(f"ts_{diag} over {s}: {got} vs {vals}")
            w = out["window"][out["window"]["key"] == s].sort_values("ts")
            for col, ref in R.window_chain(x, self.ROLL_N).items():
                if not R.arrays_close(w[col].to_numpy(), ref):
                    problems.append(f"window op {col} over {s} differs from pandas")
        dec = out["decoded"].sort_values(["source", "bucket"], ignore_index=True)
        if not (dec["source"].tolist() == m1["source"].tolist()
                and np.array_equal(dec["bucket"].to_numpy(np.int64), m1["bucket"].to_numpy())
                and np.array_equal(dec["sum_n_tok"].to_numpy(np.float64),
                                   m1["sum_n_tok"].to_numpy(np.float64))):
            problems.append("Gorilla round trip of the 1m tier is not exact")
        return [f"op {i}: {p}" for p in problems]

    def final_check(self) -> list[str]:
        """ewma_ over the head, then over the tail from the head's state, is
        bit-identical to one sweep over the whole 1m tier."""
        src = self._m1()
        cut = F.lit(int(np.median(self.want["1m"]["bucket"]) // 1_000_000))
        head = src.filter(F.unix_seconds("ts") < cut)
        tail = src.filter(F.unix_seconds("ts") >= cut)
        head_data, head_state = ewma_(head, self.EWMA_N)
        parts = [head_data, ewma_(tail, self.EWMA_N, state_df=head_state)[0]]
        whole = ewma_(src, self.EWMA_N)[0]

        def rows(df):
            return df.select("key", F.unix_micros("ts").alias("ts"), "ewma") \
                .toPandas().sort_values(["key", "ts"], ignore_index=True)

        split = pd.concat([rows(p) for p in parts]).sort_values(
            ["key", "ts"], ignore_index=True)
        one = rows(whole)
        same = (split[["key", "ts"]].equals(one[["key", "ts"]])
                and np.array_equal(split["ewma"].to_numpy(np.float64),
                                   one["ewma"].to_numpy(np.float64), equal_nan=True))
        return [] if same else ["ewma_ head→tail resume is not bit-identical to one sweep"]

    def layer_counts(self) -> dict:
        out = super().layer_counts()
        out.update({f"ts.{d}.exchanges": exchanges(df)
                    for d, df in self._diagnostics().items()})
        out["window_ops.exchanges"] = exchanges(self._window_chain())
        size = self.engine.store.read_table("chunks_1m_sum_n_tok").agg(
            F.sum(F.length("blob")), F.sum("n_points")).first()
        out["compress.bytes_per_point"] = size[0] / size[1]
        return out


WORKLOADS = {w.name: w for w in (DailyAppend, TierAnalytics)}
