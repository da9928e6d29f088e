"""The benchmark workloads.

A workload builds its inputs in ``setup`` (timed as part of ``setup_s``),
computes reference answers in ``prepare_checks`` (untimed), and hands the
runner one pass of operations in seed-permuted order. Every operation
calls a public engine function and returns what it produced, so the
runner can time it and the workload can check it.

Why these two (see README.md for the metric map):

* ``pin_batch`` — the reference batch pipeline: clean three raw tables,
  write them, run the registered cleaning and pq1–pq8 entries. Most time
  is in ``sources``, ``operators.clean`` and ``operators.analytics``.
* ``pin_stream`` — a closed-loop backlog drain of Kinesis-style envelope
  files through decode, the same cleaning code, dedup, state stores and
  checkpointed sinks.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

#: Registry entries of ``pin_batch`` besides the explicit clean+write ops:
#: the cleaning entries and pq1–pq8.
PIN_ENTRIES = [
    "pin_clean", "geo_clean", "user_clean",
    "pq1_top_category_per_country", "pq2_category_count_per_year",
    "pq3a_top_user_per_country", "pq3b_top_country_overall",
    "pq4_top_category_per_age_group", "pq5_median_followers_per_age_group",
    "pq6_users_joined_per_year", "pq7_median_followers_by_join_year",
    "pq8_median_followers_by_year_age_group",
]

PLANS_PREFIX = "pinterest_data_pipeline400_spark.plans."


@dataclass
class Outcome:
    """What one operation produced: a row count, an order-independent
    digest of its rows, and whatever the checks or the trace need."""

    rows: int
    digest: str = ""
    frame: pd.DataFrame | None = None
    progress: list[dict] = field(default_factory=list)
    query_ids: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    layer: str
    call: Callable[["object"], Outcome]  # takes the runner's Tracer
    headline: bool = False


def _canon(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    elif isinstance(v, tuple):
        v = list(v)
    return repr(v)


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, object values as reprs, rows sorted."""
    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_canon)
        elif isinstance(df[c].dtype, pd.DatetimeTZDtype):  # parquet read-back
            df[c] = df[c].dt.tz_convert(None)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-independent digest: the wrapping sum of per-row hashes."""
    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_canon)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return f"{int(h.sum(dtype=np.uint64)):016x}"


def frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when equal under the oracle contract (column names, row
    multiset, exact values); otherwise a one-line reason."""
    a, b = canonical(spark_pdf), canonical(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av, bv = av.astype(float), bv.astype(float)
        try:
            pd.testing.assert_series_equal(
                av, bv, check_names=False, check_dtype=False, rtol=0, atol=0
            )
        except AssertionError as exc:
            return f"column {c}: {str(exc).splitlines()[0]}"
    return None


def _materialize(df) -> Outcome:
    pdf = df.toPandas()
    return Outcome(rows=len(pdf), digest=frame_digest(pdf), frame=pdf)


def _registry_module(fn) -> str:
    """Plans module that defines a registry wrapper's function."""
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(PLANS_PREFIX):
            f = getattr(mod, fn.__name__, None)
            if callable(f) and getattr(f, "__module__", "") == mod_name:
                return mod_name.removeprefix(PLANS_PREFIX)
    return "unknown"


class Workload:
    """Base: registry entries with oracle checks and digest replay."""

    name = ""
    entries: list[str] = []
    headline: set[str] = set()

    def __init__(self, work: str, seed: int, tiny: bool):
        self.work, self.seed, self.tiny = work, seed, tiny
        self.rng = random.Random(seed)
        self.order: list[str] | None = None
        self.expected: dict[str, tuple[int, str]] = {}
        self.oracle_frames: dict[str, pd.DataFrame] = {}
        self.sf_dir = ""
        self.spark = None

    # -- set-up -------------------------------------------------------
    def setup(self, spark, k: int) -> dict[str, float]:
        """Build this set-up's inputs; returns per-layer seconds."""
        raise NotImplementedError

    def prepare_checks(self, spark) -> None:
        """DuckDB oracle answers for every entry that has one."""
        import duckdb

        from pinterest_data_pipeline400_spark.plans.registry import REGISTRY
        from pinterest_data_pipeline400_spark.schemas import TESTDATA_TABLES

        oracles = REGISTRY.oracles()
        con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        try:
            for t in TESTDATA_TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            # oracle SQL names the sf0.01 fixture files; point it at the
            # fixture of the scale this run reads
            scale = f"/{os.path.basename(self.sf_dir)}/"
            for name in self.entries:
                if name in oracles:
                    sql = oracles[name].replace("/sf0.01/", scale)
                    self.oracle_frames[name] = con.execute(sql).fetchdf()
        finally:
            con.close()

    # -- passes -------------------------------------------------------
    def entry_ops(self) -> list[Op]:
        import __spark_entry__

        queries = __spark_entry__.queries()
        ops = []
        for name in self.entries:
            fn = queries[name]
            ops.append(Op(name, "plans." + _registry_module(fn),
                          self._entry_call(name, fn), name in self.headline))
        return ops

    def _entry_call(self, name: str, fn):
        def call(tracer) -> Outcome:
            with tracer.span(name, "build"):
                df = fn(self.spark, self.sf_dir)
            with tracer.span(name, "run"):
                return _materialize(df)

        return call

    def pass_ops(self) -> list[Op]:
        return self.in_seed_order(self.entry_ops())

    def in_seed_order(self, ops: list[Op]) -> list[Op]:
        """``ops`` in the seed's permutation, the same in every pass of a
        run: whole-stage codegen keeps an LRU cache of compiled classes,
        and a pass order that changed would change how many of them each
        pass compiles again."""
        if self.order is None:
            self.order = [op.name for op in ops]
            self.rng.shuffle(self.order)
        rank = {name: i for i, name in enumerate(self.order)}
        return sorted(ops, key=lambda op: rank[op.name])

    def check(self, op: Op, out: Outcome, spark) -> str | None:
        """None if ``out`` is right; else the reason. The first outcome
        of an entry is held against its oracle; later ones must repeat
        it exactly (row count and digest)."""
        sig = (out.rows, out.digest)
        if op.name not in self.expected:
            if op.name in self.oracle_frames and out.frame is not None:
                why = frames_match(out.frame, self.oracle_frames[op.name])
                if why:
                    return f"oracle mismatch: {why}"
            self.expected[op.name] = sig
            return None
        if sig != self.expected[op.name]:
            return f"result changed across passes: {sig} vs {self.expected[op.name]}"
        return None

    def end_pass(self, spark) -> None:
        """Housekeeping between passes (outside every timer)."""

    def final_check(self, spark) -> list[str]:
        """Checks that need Spark after the last pass; returns failures."""
        return []

    @staticmethod
    def restart_input_dir(path: str) -> str:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


class PinBatch(Workload):
    """Reference batch pipeline on the sf0.01 pinterest fixtures (11k
    rows per table, the reference's size)."""

    name = "pin_batch"
    entries = PIN_ENTRIES
    headline = {n for n in PIN_ENTRIES if n.startswith("pq")}

    def setup(self, spark, k):
        from pinterest_data_pipeline400_spark import generator

        sf = "sf0.001" if self.tiny else "sf0.01"
        t0 = time.perf_counter()
        self.fx_dir = generator.ensure_fixtures(sf)
        t1 = time.perf_counter()
        # entries map the sf dir's basename onto the fixture of that scale
        self.sf_dir = os.path.join(self.work, f"setup{k}", sf)
        self.out_dir = self.restart_input_dir(os.path.join(self.work, f"setup{k}", "out"))
        return {"generator.build_s": t1 - t0}

    def prepare_checks(self, spark):
        super().prepare_checks(spark)
        self.raw_rows = {
            t: len(pd.read_parquet(os.path.join(self.fx_dir, f"{t}_raw.parquet"), columns=["ind" if t != "pin" else "index"]))
            for t in ("pin", "geo", "user")
        }

    def pass_ops(self):
        from pinterest_data_pipeline400_spark.plans import pinterest_queries

        def cleaned_tables(tracer) -> Outcome:
            with tracer.span("pinterest.cleaned_tables", "build"):
                tables = pinterest_queries.cleaned_tables(self.spark, self.sf_dir)
            return Outcome(rows=len(tables))

        cleans = [self._clean_op(t) for t in ("pin", "geo", "user")]
        ops = self.in_seed_order(cleans + self.entry_ops())
        # once-per-session localCheckpoint of the cleaned tables: first,
        # so its cold cost lands in one place instead of in whichever
        # entry the permutation puts first
        return [Op("pinterest.cleaned_tables", "pinterest", cleaned_tables)] + ops

    def _clean_op(self, table: str) -> Op:
        from pinterest_data_pipeline400_spark.operators import clean
        from pinterest_data_pipeline400_spark.sources.readers import read_parquet_table
        from pinterest_data_pipeline400_spark.sources.sinks import write_table

        cleaner = {"pin": clean.clean_pin, "geo": clean.clean_geo, "user": clean.clean_user}[table]

        def call(tracer) -> Outcome:
            with tracer.span(f"clean.{table}", "read"):
                raw = read_parquet_table(self.spark, self.fx_dir, f"{table}_raw")
            with tracer.span(f"clean.{table}", "build"):
                df = cleaner(raw)
            path = os.path.join(self.out_dir, table)
            with tracer.span(f"clean.{table}", "write"):
                write_table(df, path)
            return Outcome(rows=self.raw_rows[table], extra={"path": path})

        return Op(f"clean.{table}", "clean", call)

    def check(self, op, out, spark):
        if op.name.startswith("clean."):
            written = pd.read_parquet(out.extra["path"])
            sig = (len(written), frame_digest(written))
            out.extra["rows_out"] = len(written)
            if op.name not in self.expected:
                # the written table is what the registered {table}_clean
                # entry returns (geo splits its coordinates array)
                table = op.name.removeprefix("clean.")
                if table == "geo":
                    written = written.assign(
                        coord_lat=written.coordinates.str[0], coord_lon=written.coordinates.str[1]
                    ).drop(columns="coordinates")
                why = frames_match(written, self.oracle_frames[f"{table}_clean"])
                if why:
                    return f"written table differs from the {table}_clean oracle: {why}"
                self.expected[op.name] = sig
            elif sig != self.expected[op.name]:
                return f"written table changed across passes: {sig} vs {self.expected[op.name]}"
            return None
        if op.name == "pinterest.cleaned_tables":
            return None if out.rows == 3 else "cleaned_tables lacks a table"
        return super().check(op, out, spark)


class PinStream(Workload):
    """Backlog drain of envelope JSONL through the streaming pipeline."""

    name = "pin_stream"
    topics = ("pin", "geo", "user")
    headline = {"drain.pin", "drain.geo", "drain.user"}
    #: every drain reads its topic's whole backlog in one micro-batch
    #: (``maxFilesPerTrigger`` = files per topic): each batch costs ~1 s
    #: of fixed overhead (state store commits, planning, sink commit),
    #: and the run budget has room for one per drain
    files_per_topic = 4
    geo_delay = "1 hour"

    def setup(self, spark, k):
        from pinterest_data_pipeline400_spark import generator

        n = 500 if self.tiny else 2_000
        t0 = time.perf_counter()
        raw = generator.build_tables(n, self.seed)
        self.stream_dir = self.restart_input_dir(os.path.join(self.work, f"setup{k}", "stream"))
        self.envelopes = {}
        for name, df in raw.items():
            topic = name.removesuffix("_raw")
            records = df.to_dict(orient="records")
            if topic == "geo":
                records = self._redeliver(sorted(records, key=lambda r: (r["timestamp"], r["ind"])))
            self._write_topic(topic, records)
            self.envelopes[topic] = len(records)
        self.planted = self.envelopes["geo"] - len(raw["geo_raw"])
        self.out_root = os.path.join(self.work, f"setup{k}", "sinks")
        self.pass_idx = 0
        return {"generator.build_s": time.perf_counter() - t0}

    def _redeliver(self, records: list[dict]) -> list[dict]:
        """At-least-once delivery: ~1% of geo records arrive twice, the
        copy right behind the original (event time tracks arrival, as in
        a live stream, so the watermark never drops an original)."""
        rng = np.random.default_rng(self.seed + 1)
        dup = set(rng.choice(len(records), max(1, len(records) // 100), replace=False).tolist())
        out = []
        for i, rec in enumerate(records):
            out.append(rec)
            if i in dup:
                out.append(rec)
        return out

    def _write_topic(self, topic: str, records: list[dict]) -> None:
        d = os.path.join(self.stream_dir, topic)
        os.makedirs(d)
        per = -(-len(records) // self.files_per_topic)
        for f in range(self.files_per_topic):
            with open(os.path.join(d, f"part-{f:04d}.jsonl"), "w") as fh:
                for rec in records[f * per:(f + 1) * per]:
                    key = rec.get("ind", rec.get("index", 0))
                    fh.write(json.dumps({
                        "StreamName": f"streaming-{topic}",
                        "PartitionKey": str(int(key) % 8),
                        "Data": json.dumps(rec, default=str),
                    }) + "\n")

    def prepare_checks(self, spark):
        """Nothing before the passes: the batch reference runs Spark jobs,
        which would warm the JVM ahead of the cold pass (see final_check)."""
        self.sink_rows: list[tuple[str, int]] = []

    def final_check(self, spark) -> list[str]:
        """Every drained sink must hold as many rows as the engine's batch
        path gives over the same envelope files (decode, clean, and for
        geo a key dedup)."""
        from pinterest_data_pipeline400_spark import streaming as st

        reference = {}
        for topic in self.topics:
            raw = spark.read.schema(st.ENVELOPE).json(os.path.join(self.stream_dir, topic))
            cleaned = st.clean_stream(st.decode_stream(raw, st.RAW_SCHEMAS[topic]), topic)
            if topic == "geo":
                cleaned = cleaned.dropDuplicates(["ind"])
            reference[topic] = cleaned.count()
        return [f"{where}: sink rows {got}, batch clean gives {reference[topic]}"
                for where, topic, got in self.sink_rows if got != reference[topic]]

    def pass_ops(self):
        self.pass_dir = os.path.join(self.out_root, f"pass{self.pass_idx}")
        self.pass_idx += 1
        return self.in_seed_order([self._drain_op(t) for t in self.topics] + [self._counts_op()])

    def _drain(self, tracer, op_name: str, build, extra_confs=None) -> Outcome:
        """One availableNow drain with a fresh checkpoint and sink."""
        from pinterest_data_pipeline400_spark import streaming as st
        from pinterest_data_pipeline400_spark.session import (
            STREAM_DRAIN_TIMEOUT_SEC,
            STREAM_STATE_PARTITIONS,
            scoped_shuffle_partitions,
        )

        spark = self.spark
        sink, ckpt = st.fresh_dirs(os.path.join(self.pass_dir, op_name))
        prev = {k: spark.conf.get(k, None) for k in (extra_confs or {})}
        for k, v in (extra_confs or {}).items():
            spark.conf.set(k, v)
        try:
            with tracer.span(op_name, "run"), scoped_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
                query = st.write_stream_append(build(), sink, ckpt)
                try:
                    if not query.awaitTermination(STREAM_DRAIN_TIMEOUT_SEC):
                        raise TimeoutError(f"{op_name} did not drain")
                finally:
                    if query.isActive:
                        query.stop()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        progress = [dict(p) for p in query.recentProgress]
        rows = sum(p.get("numInputRows", 0) for p in progress)
        return Outcome(rows=rows, progress=progress, query_ids=[str(query.runId)],
                       extra={"sink": sink})

    def _drain_op(self, topic: str) -> Op:
        from pinterest_data_pipeline400_spark import streaming as st

        def build():
            src = st.read_envelope_stream(self.spark, os.path.join(self.stream_dir, topic),
                                          self.files_per_topic)
            cleaned = st.clean_stream(st.decode_stream(src, st.RAW_SCHEMAS[topic]), topic)
            if topic == "geo":
                cleaned = st.dedup_stream(cleaned, keys=["ind"], watermark_col="timestamp",
                                          delay=self.geo_delay)
            return cleaned

        return Op(f"drain.{topic}", "streaming",
                  lambda tracer: self._drain(tracer, f"drain.{topic}", build), True)

    def _counts_op(self) -> Op:
        """Keyed running counts (applyInPandasWithState) on RocksDB state,
        over the raw geo topic keyed by country."""
        from pinterest_data_pipeline400_spark import streaming as st

        def build():
            src = st.read_envelope_stream(self.spark, os.path.join(self.stream_dir, "geo"),
                                          self.files_per_topic)
            return st.stateful_running_counts(
                st.decode_stream(src, st.RAW_SCHEMAS["geo"]), key_col="country")

        confs = {"spark.sql.streaming.stateStore.providerClass": st.ROCKSDB_PROVIDER}
        return Op("drain.counts", "streaming",
                  lambda tracer: self._drain(tracer, "drain.counts", build, confs))

    def check(self, op, out, spark):
        from pyspark.sql import functions as F

        sink = spark.read.parquet(out.extra["sink"])
        topic = op.name.removeprefix("drain.")
        # a watermarked query may add one no-data batch to evict state
        batches = sum(1 for p in out.progress if p.get("numInputRows", 0) > 0)
        if batches != 1:
            return f"{batches} micro-batches with data, expected 1"
        if topic == "counts":
            totals = sink.groupBy("country").agg(F.max("n_events_so_far").alias("n"))
            got = totals.agg(F.sum("n")).first()[0]
            want = self.envelopes["geo"]
            return None if got == want else f"running counts total {got}, expected {want}"
        got = sink.count()
        out.extra["rows_out"] = got
        self.sink_rows.append((f"pass {self.pass_idx - 1} {op.name}", topic, got))
        if topic == "geo":
            dropped = self.envelopes["geo"] - got
            if dropped != self.planted:
                return f"dedup removed {dropped} rows, planted {self.planted}"
        return None

    def end_pass(self, spark):
        shutil.rmtree(self.pass_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PinBatch, PinStream)}
