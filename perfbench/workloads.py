"""The two stores the benchmark builds, appends to, maintains and reads.

Both write the engine's tier-table layout
(``source=*/tier=*/window_day=*``), so one ``LadderJob`` handle serves
``maintain()`` and every router call on either of them:

* ``LongSeries`` — sequences rolled by ``LadderJob.run`` and
  ``LadderJob.run(incremental=True)``; raw + 1m/1h/1d tiers.
* ``EventPoints`` — long-format points rolled by ``rollup_points`` with
  linear gap-fill and written by the benchmark; 1m/1h/1d tiers.

Each store also knows, from its generator alone, what the engine must
have written: the stored points, tier row counts per day, and the rows
the single-threaded path (``rollup_*_pdf``) gives for any doc.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import gen
from .gen import MS_PER_DAY, T0_MS

TIERS = [("1m", 60), ("1h", 3600), ("1d", 86400)]


@dataclass
class LongSeriesSize:
    n_sources: int
    n_build: int  # docs in the first run
    n_append: int  # docs added before the incremental run
    min_ticks: int
    max_ticks: int


@dataclass
class EventPointsSize:
    n_sources: int
    n_keys: int
    n_hot: int
    build_days: int
    append_days: int
    fill_step_ms: int


SIZES = {
    "long_series": {
        "full": LongSeriesSize(1, 1, 1, 90_000, 91_000),
        # the warm-up pass (run.Run.warm_engine); smaller ones left the
        # timed build cold
        "warm": LongSeriesSize(1, 1, 1, 90_000, 91_000),
        "mini": LongSeriesSize(2, 2, 2, 86_500, 88_000),
    },
    "event_points": {
        "full": EventPointsSize(2, 16, 1, 2, 1, 10_000),
        # its 8 shuffle tasks already reach every Python worker
        "warm": EventPointsSize(1, 4, 1, 2, 1, 10_000),
        "mini": EventPointsSize(2, 8, 1, 2, 1, 10_000),
    },
}


class Store:
    """Shared parts: layout, retention expectations, stored-row reads."""

    has_raw = False

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.in_path = f"{work}/input"
        self.out_root = f"{work}/tiers"
        self.job = None
        self.build_pts = 0
        self.append_pts = 0
        self._truth: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    # -- what the generator says the table must hold ---------------------
    def first_day(self) -> int:
        return T0_MS // MS_PER_DAY

    def n_days(self) -> int:
        raise NotImplementedError

    def now_ms(self) -> int:
        """The maintenance clock: the end of the last day with data."""
        return (self.first_day() + self.n_days()) * MS_PER_DAY

    def policy(self):
        from time2feat_spark.plans.retention import RetentionPolicy

        keep = self.n_days() - 1  # drops the first day of raw and 1m only
        return RetentionPolicy({"raw": keep, "1m": keep, "1h": None, "1d": None})

    def expected_tiers(self) -> dict[tuple[str, int], tuple[int, int]]:
        """(tier, window_day) -> (rows, summed count) before retention."""
        out: dict[tuple[str, int], list[int]] = {}
        for doc in self.docs():
            ts, _ = self.truth_points(doc)
            if self.has_raw:
                acc = out.setdefault(("raw", int(ts[0] // MS_PER_DAY)), [0, 0])
                acc[0] += 1
                acc[1] += len(ts)
            for tier, sec in TIERS:
                wid, cnt = np.unique(ts // (sec * 1000), return_counts=True)
                days = wid * (sec * 1000) // MS_PER_DAY
                for d in np.unique(days):
                    acc = out.setdefault((tier, int(d)), [0, 0])
                    acc[0] += int((days == d).sum())
                    acc[1] += int(cnt[days == d].sum())
        return {k: (v[0], v[1]) for k, v in out.items()}

    def expected_after_retention(self) -> dict[tuple[str, int], tuple[int, int]]:
        pol, now = self.policy(), self.now_ms()
        out = {}
        for (tier, day), v in self.expected_tiers().items():
            cut = pol.cutoff_day(tier, now)
            if cut is None or day >= cut:
                out[(tier, day)] = v
        return out

    # -- reading what the engine stored -----------------------------------
    def read_stored(self, columns: list[str], docs: list[str] | None = None):
        """The stored tier table, read with pyarrow rather than through
        the engine, as a pandas frame. Files under `_` and `.` prefixed
        directories (the manifest, compaction scratch) are skipped."""
        import pyarrow.dataset as ds

        data = ds.dataset(self.out_root, format="parquet", partitioning="hive")
        flt = ds.field("doc_id").isin(docs) if docs is not None else None
        return data.to_table(columns=columns, filter=flt).to_pandas()

    def stored_tiers(self) -> dict[tuple[str, int], tuple[int, int]]:
        t = self.read_stored(["tier", "window_day", "count"])
        g = t.groupby(["tier", "window_day"])["count"].agg(["size", "sum"])
        return {(tier, int(day)): (int(r["size"]), int(r["sum"]))
                for (tier, day), r in g.iterrows()}

    def stored_rows(self, docs: list[str]) -> pd.DataFrame:
        """Stored tier rows of `docs` in the flat column layout of the
        engine's single-threaded path."""
        cfg = self.cfg()
        t = self.read_stored(
            ["source", "doc_id", "tier", "window_start", "count", "sum", "min",
             "max", "mean", "feat", "ts_gorilla", "val_gorilla", "fill_method"],
            docs)
        t["window_start_ms"] = (
            t.pop("window_start").astype("datetime64[ms]").astype(np.int64))
        feat = t.pop("feat")
        for nm in cfg.features:
            t[f"feat_{nm}"] = [f[nm] for f in feat]
        return t

    def parquet_files(self) -> list[str]:
        out = []
        for d, _, files in os.walk(self.out_root):
            out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
        return out

    def stored_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.parquet_files())

    def ladder(self):
        from time2feat_spark.plans.ladder_job import LadderJob

        if self.job is None:
            self.job = LadderJob(self.spark, self.in_path, self.out_root, self.cfg())
        return self.job

    def maintain(self) -> dict:
        return self.ladder().maintain(self.policy(), now_ms=self.now_ms())

    # -- per-store ---------------------------------------------------------
    def cfg(self):
        raise NotImplementedError

    def generate(self, dest: str) -> None:
        raise NotImplementedError

    def build(self) -> None:
        raise NotImplementedError

    def append(self) -> None:
        raise NotImplementedError

    def docs(self) -> list[str]:
        raise NotImplementedError

    def source_of(self, doc: str) -> str:
        raise NotImplementedError

    def truth_points(self, doc: str) -> tuple[np.ndarray, np.ndarray]:
        raise NotImplementedError

    def oracle_rows(self, docs: list[str]) -> pd.DataFrame:
        raise NotImplementedError

    def fill_step_ms(self) -> int:
        raise NotImplementedError

    def raw_groups(self, docs: list[str]) -> list:
        raise NotImplementedError

    def windows(self, docs: list[str]) -> tuple[np.ndarray, dict]:
        """Flat values of `docs` and, per tier, the (starts, ends) of the
        windows the engine reduces — the kernels' own input."""
        parts, tier_w = [], {}
        base = 0
        names = (["raw"] if self.has_raw else []) + [t for t, _ in TIERS]
        acc = {t: ([], []) for t in names}
        for doc in docs:
            ts, v = self.truth_points(doc)
            parts.append(v)
            if self.has_raw:
                acc["raw"][0].append(np.array([base]))
                acc["raw"][1].append(np.array([base + len(v)]))
            for tier, sec in TIERS:
                wid = ts // (sec * 1000)
                b = np.nonzero(np.diff(wid))[0] + 1
                acc[tier][0].append(base + np.concatenate(([0], b)))
                acc[tier][1].append(base + np.concatenate((b, [len(v)])))
            base += len(v)
        for t, (s, e) in acc.items():
            tier_w[t] = (np.concatenate(s), np.concatenate(e))
        return np.concatenate(parts), tier_w


class LongSeries(Store):
    has_raw = True

    def __init__(self, spark, work, seed, size: LongSeriesSize):
        super().__init__(spark, work, seed)
        self.size = size
        self.append_dir = f"{work}/input_append"

    def cfg(self):
        from time2feat_spark.operators.rollup import RollupConfig

        return RollupConfig()

    def _table(self, i0, i1):
        s = self.size
        return gen.long_series(self.seed, i0, i1, s.n_sources, s.min_ticks,
                               s.max_ticks)

    def generate(self, dest: str) -> None:
        s = self.size
        b = self._table(0, s.n_build)
        a = self._table(s.n_build, s.n_build + s.n_append)
        gen.write_table(b, f"{dest}/input", s.n_sources)
        gen.write_table(a, f"{dest}/input_append", s.n_sources)
        self.build_pts = int(np.sum(b.column("n_tok").to_numpy()))
        self.append_pts = int(np.sum(a.column("n_tok").to_numpy()))

    def n_days(self) -> int:
        return -(-self.size.max_ticks * 1000 // MS_PER_DAY)

    def covered_end_ms(self) -> int:
        """Every doc has points up to here."""
        return T0_MS + self.size.min_ticks * 1000

    def build(self) -> None:
        self.ladder().run()

    def append(self) -> None:
        # the appended docs join the same input table, past every
        # source's doc_id watermark
        for f in sorted(os.listdir(self.append_dir)):
            shutil.move(f"{self.append_dir}/{f}", f"{self.in_path}/append-{f}")
        self.ladder().run(incremental=True)

    def _ids(self) -> np.ndarray:
        return np.arange(self.size.n_build + self.size.n_append)

    def docs(self) -> list[str]:
        return [f"doc_{i:08d}" for i in self._ids()]

    def source_of(self, doc: str) -> str:
        return f"src_{int(doc[4:]) % self.size.n_sources}"

    def _lengths(self, i: np.ndarray) -> np.ndarray:
        return gen.long_series_lengths(self.seed, i, self.size.min_ticks,
                                       self.size.max_ticks)

    def truth_points(self, doc):
        if doc not in self._truth:
            i = np.array([int(doc[4:])])
            n = self._lengths(i)
            v = gen.long_series_values(self.seed, i, n).astype(np.float64)
            ts = T0_MS + np.arange(int(n[0]), dtype=np.int64) * 1000
            self._truth[doc] = (ts, v)
        return self._truth[doc]

    def fill_step_ms(self) -> int:
        return 1000

    def raw_groups(self, docs):
        return [self.truth_points(d) for d in docs]

    def oracle_rows(self, docs):
        from time2feat_spark.operators.rollup import rollup_sequences_pdf

        i = np.array(sorted(int(d[4:]) for d in docs))
        pdf = pd.concat(
            [self._table(int(j), int(j) + 1).to_pandas() for j in i],
            ignore_index=True,
        )
        return rollup_sequences_pdf(pdf, self.cfg())


class EventPoints(Store):
    def __init__(self, spark, work, seed, size: EventPointsSize):
        super().__init__(spark, work, seed)
        self.size = size
        self.append_path = f"{work}/input_append"
        self._names = gen.key_names(size.n_keys, size.n_sources)
        self._raw: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def cfg(self):
        from time2feat_spark.operators.rollup import RollupConfig

        return RollupConfig(include_raw=False,
                            gapfill=("linear", self.size.fill_step_ms))

    def _table(self, days: range):
        s = self.size
        return gen.event_points(self.seed, s.n_keys, s.n_sources, s.n_hot, days)

    def generate(self, dest: str) -> None:
        s = self.size
        b = self._table(range(0, s.build_days))
        a = self._table(range(s.build_days, s.build_days + s.append_days))
        gen.write_table(b, f"{dest}/input", 4)
        gen.write_table(a, f"{dest}/input_append", 4)
        self.build_pts, self.append_pts = b.num_rows, a.num_rows

    def n_days(self) -> int:
        return self.size.build_days + self.size.append_days

    def covered_end_ms(self) -> int:
        return T0_MS + self.n_days() * MS_PER_DAY

    def _write(self, path: str, mode: str) -> None:
        from pyspark.sql import functions as F
        from time2feat_spark.operators.rollup import assemble, rollup_points

        cfg = self.cfg()
        pts = self.spark.read.parquet(path)
        out = assemble(
            rollup_points(pts, ["source", "doc_id"], "ts", "value", cfg), cfg
        ).withColumn(
            "window_day",
            F.floor(F.unix_millis("window_start") / F.lit(MS_PER_DAY)).cast("long"),
        )
        out.write.mode(mode).partitionBy("source", "tier", "window_day").parquet(
            self.out_root
        )

    def build(self) -> None:
        self._write(self.in_path, "overwrite")

    def append(self) -> None:
        self._write(self.append_path, "append")

    def docs(self) -> list[str]:
        return [d for _, d in self._names]

    def source_of(self, doc: str) -> str:
        return f"src_{int(doc[4:]) % self.size.n_sources}"

    def raw_points(self, doc: str) -> tuple[np.ndarray, np.ndarray]:
        """The generated (pre-gap-fill) points of `doc` on every day."""
        if doc not in self._raw:
            k = int(doc[4:])
            parts = [gen.event_chunk(self.seed, k, d, hot=k < self.size.n_hot)
                     for d in range(self.n_days())]
            self._raw[doc] = (np.concatenate([p[0] for p in parts]),
                              np.concatenate([p[1] for p in parts]))
        return self._raw[doc]

    def truth_points(self, doc):
        """Stored points: each (key, day) chunk linearly interpolated at
        every multiple of the fill step between its first and last
        sample."""
        if doc not in self._truth:
            ts, v = self.raw_points(doc)
            step = self.size.fill_step_ms
            gts, gvs = [], []
            day = ts // MS_PER_DAY
            for d in np.unique(day):
                t, x = ts[day == d], v[day == d]
                grid = np.arange(-(-t[0] // step), t[-1] // step + 1,
                                 dtype=np.int64) * step
                gts.append(grid)
                gvs.append(np.interp(grid, t.astype(np.float64), x))
            self._truth[doc] = (np.concatenate(gts), np.concatenate(gvs))
        return self._truth[doc]

    def fill_step_ms(self) -> int:
        return self.size.fill_step_ms

    def raw_groups(self, docs):
        """The generated (key, day) chunks — gap-fill's unit of work."""
        out = []
        for doc in docs:
            ts, v = self.raw_points(doc)
            day = ts // MS_PER_DAY
            out += [(ts[day == d], v[day == d]) for d in np.unique(day)]
        return out

    def oracle_rows(self, docs):
        from time2feat_spark.operators.rollup import rollup_points_pdf

        frames = []
        for doc in sorted(docs):
            ts, v = self.raw_points(doc)
            frames.append(pd.DataFrame({
                "source": self.source_of(doc), "doc_id": doc,
                "_chunk": ts // MS_PER_DAY, "ts": ts, "value": v,
            }))
        pdf = pd.concat(frames, ignore_index=True)
        return rollup_points_pdf(
            pdf, self.cfg(), ["source", "doc_id", "_chunk"], "ts", "value"
        ).drop(columns=["_chunk"])


def make_store(name: str, spark, work: str, seed: int, size: str) -> Store:
    """`size` is "full", "warm" or "mini" (see SIZES)."""
    size = SIZES[name][size]
    cls = {"long_series": LongSeries, "event_points": EventPoints}[name]
    return cls(spark, work, seed, size)
