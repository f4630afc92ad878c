"""The three workloads: one closed-loop client making sequential calls.

Each workload generates its inputs from the seed (``gen.py``), prepares a
session, and runs passes.  A pass times its calls into the program, then
checks the outputs outside the clock.  Every call that raises and every
output check that fails counts as a failed operation.  The peak RSS of the
client and its JVM is measured over the timed part only, so the set-up
(input generation, the DuckDB oracle) and the output checks do not count.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen
import spans
from layers import ANALYTIC_QUERIES
from spans import Span, Tracer

PKG = "_spark_multi_format_data_lake_pipeline_spark"


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    error: str = ""


@dataclass
class PassResult:
    run_s: float = 0.0
    peak_rss_mb: float = 0.0
    ops: list[Op] = field(default_factory=list)
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    table_bytes: int = 0
    input_bytes: int = 0
    root: Span | None = None
    table_roots: list[Path] = field(default_factory=list)
    # (path, mtime ms, bytes) under table_roots, listed only when tracing
    files: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def failures(self) -> list[str]:
        return [f"{o.kind}: {o.error}" for o in self.ops if not o.ok] + [
            f"check {n}: {d}" for n, ok, d in self.checks if not ok
        ]


class Recorder:
    """Times each call into the program inside a span; a call that raises
    is recorded as failed and returns None."""

    def __init__(self, tracer: Tracer, result: PassResult):
        self.tracer = tracer
        self.result = result

    def op(self, kind: str, span: str, fn):
        t = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn()
            self.result.ops.append(Op(kind, (time.perf_counter() - t) * 1000.0, True))
            return out
        except Exception as e:  # noqa: BLE001 - a failing call is a measured outcome
            self.result.ops.append(Op(kind, (time.perf_counter() - t) * 1000.0, False, repr(e)[:300]))
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.result.checks.append((name, bool(ok), "" if ok else detail))


# processes whose peak RSS a pass measures: this client, and the JVM that
# run.py adds once the session is up
RSS_PIDS: list[int] = [os.getpid()]


def _peak_rss_mb() -> float:
    kb = 0
    for pid in RSS_PIDS:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024.0


@contextmanager
def timed(tracer: Tracer, res: PassResult):
    """The timed part of a pass: its wall clock, its root span, and the peak
    RSS (VmHWM) of the client plus its JVM, reset to the current RSS on
    entry so that earlier peaks do not count."""
    for pid in RSS_PIDS:
        with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
            fh.write("5")
    with tracer.span("bench.pass") as root:
        t0 = time.perf_counter()
        yield
        res.run_s = time.perf_counter() - t0
    res.peak_rss_mb = _peak_rss_mb()
    res.root = root


def _dir_bytes(roots: list[Path]) -> int:
    return sum(p.stat().st_size for r in roots if r.exists() for p in r.rglob("*") if p.is_file())


class Workload:
    name = ""

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, out: Path) -> dict:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Program-side set-up a user pays once per session."""

    def run_pass(self, spark, tracer: Tracer, work: Path, index: int) -> PassResult:
        raise NotImplementedError


# ---------------------------------------------------------------- ingest_merge


class IngestMerge(Workload):
    """The reference job in two rounds: sweep a mixed-format lake into a
    staging database, merge it into an empty target (CREATE_TABLE), then
    ingest a change round and merge again (MERGE / INSERT_OVERWRITE /
    CREATE_TABLE)."""

    name = "ingest_merge"

    def generate(self, out: Path) -> dict:
        rng = np.random.default_rng([self.seed, 1])
        rows = dict(gen.TABLE_ROWS, orders=6500)
        self.plan = gen.ingest_lake(rng, gen.tpch_tables(rng, rows), out)
        self.lake = out
        return {"round1": gen.sizes(out / "round1"), "round2": gen.sizes(out / "round2"),
                "rows": self.plan.landed_rows}

    def run_pass(self, spark, tracer, work, index):
        pipeline = importlib.import_module(f"{PKG}.pipeline")
        res = PassResult()
        rec = Recorder(tracer, res)
        src, tgt = f"lake_src_{index}", f"lake_tgt_{index}"
        with timed(tracer, res):
            r1 = rec.op("run_ingestion", "pipeline.run_ingestion",
                        lambda: pipeline.run_ingestion(spark, self.lake / "round1", database=src))
            m1 = rec.op("run_merge", "pipeline.run_merge", lambda: pipeline.run_merge(spark, src, tgt))
            r2 = rec.op("run_ingestion", "pipeline.run_ingestion",
                        lambda: pipeline.run_ingestion(spark, self.lake / "round2", database=src))
            m2 = rec.op("run_merge", "pipeline.run_merge", lambda: pipeline.run_merge(spark, src, tgt))
        wh = Path(spark.conf.get("spark.sql.warehouse.dir").replace("file:", ""))
        res.table_roots = [wh / f"{src}.db", wh / f"{tgt}.db"]
        res.table_bytes = _dir_bytes(res.table_roots)
        res.input_bytes = gen.sizes(self.lake)["bytes"]
        planted = self._planted_landed(rec, spark, tgt)
        self._check(rec, r1, m1, r2, m2, planted)
        res.extra["corrupt_rows_landed"] = sum(planted.values())
        # the reference's figure: rows handed to ingestion plus merge source rows
        res.extra["rows"] = sum(f.rows + f.corrupt for f in self.plan.round1 + self.plan.round2) + sum(
            v.get("source_rows", 0) for m in (m1 or {}, m2 or {}) for v in m.values())
        if tracer.enabled:
            res.files = spans.list_files(res.table_roots)
        for db in (src, tgt):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        return res

    def _planted_landed(self, rec, spark, tgt) -> dict[str, int]:
        """Per file with planted malformed rows: how many of them reached the
        round-1 merge target.  The reader should drop them all (FIXTURES.md
        A3), but the CSV reader keeps them (a known defect): Spark's
        PERMISSIVE CSV adds no ``_corrupt_record`` column to a header-derived
        schema and drops a long row's extra fields.  As with the drain gap,
        that defect shows as ``sources.readers.corrupt_rows_landed`` (and in
        every run's ``known_defects``) and is not a failed operation; what
        is checked is that every clean row landed exactly once."""
        out = {}
        for f in self.plan.round1:
            if not f.planted_ids:
                continue
            try:
                ids = [r[0] for r in spark.table(f"{tgt}.{f.table}").select("id").collect()]
            except Exception as e:  # noqa: BLE001
                rec.check(f"{f.table} clean rows", False, repr(e)[:200])
                continue
            clean = [i for i in ids if i not in f.planted_ids]
            rec.check(f"{f.table} clean rows", len(clean) == len(set(clean)) == f.rows,
                      f"{len(clean)} clean rows ({len(set(clean))} distinct ids), want {f.rows}")
            out[f.table] = len(ids) - len(clean)
        return out

    def _check(self, rec, r1, m1, r2, m2, planted) -> None:
        """Row counts and strategies against the plan.  A file's expected
        count is its generated rows plus the planted rows that landed (0
        once the reader drops them; see ``_planted_landed``)."""
        plan = self.plan
        for rnd, report, files in (("1", r1, plan.round1), ("2", r2, plan.round2)):
            if report is None:
                rec.check(f"round{rnd} ingestion", False, "run_ingestion raised")
                continue
            want = {f.table: f for f in files}
            rec.check(f"round{rnd} tables", set(report.written) == set(want),
                      f"landed {sorted(report.written)} want {sorted(want)}")
            for t, f in want.items():
                n = f.rows + planted.get(t, 0)
                got = report.verification.get(t, {}).get("rows")
                rec.check(f"round{rnd} {t} rows", got == n, f"{got} rows, want {n}")
        if m1 is not None:
            for f in plan.round1:
                got = m1.get(f.table, {})
                ok = got.get("strategy") == "CREATE_TABLE" and got.get("final_rows") == f.rows + planted.get(f.table, 0)
                rec.check(f"merge1 {f.table}", ok, str(got))
        else:
            rec.check("merge1", False, "run_merge raised")
        if m2 is not None:
            for t, (strategy, final) in plan.merge2.items():
                got = m2.get(t, {})
                ok = got.get("strategy") == strategy and got.get("final_rows") == final
                rec.check(f"merge2 {t}", ok, f"{got} want {(strategy, final)}")
        else:
            rec.check("merge2", False, "run_merge raised")


# --------------------------------------------------------------- lakehouse_cdc


class LakehouseCdc(Workload):
    """Stream event files into a versioned table; commit a seeded
    write/upsert/delete/compact series on a change-feed table, reading after
    every data commit; drain the feed and replicate it."""

    name = "lakehouse_cdc"
    READS = ("feed_range_count", "snapshot_count", "keyed_lookup")

    def generate(self, out: Path) -> dict:
        self.plan = gen.cdc_inputs(np.random.default_rng([self.seed, 2]), out)
        self.inputs = out
        return {"events": gen.sizes(out / "events"), "user_bytes": self.plan.user_bytes,
                "rows": len(self.plan.model)}

    def prepare(self, spark) -> None:
        importlib.import_module(f"{PKG}.sources.versioned_stream").register(spark)

    def run_pass(self, spark, tracer, work, index):
        V = importlib.import_module(f"{PKG}.sinks.versioned")
        VS = importlib.import_module(f"{PKG}.sources.versioned_stream")
        SS = importlib.import_module(f"{PKG}.streaming.sinks")
        EV = importlib.import_module(f"{PKG}.streaming.events")
        plan = self.plan
        res = PassResult()
        rec = Recorder(tracer, res)
        w = work / f"cdc_{index}"
        tbl, landing, sink, mirror = (str(w / n) for n in ("orders", "landing", "sink", "mirror"))
        events = str(self.inputs / "events")
        progress: list[dict] = []
        commit_ms: list[float] = []
        read_ms: list[float] = []
        state = {"commits": 0}

        def stream(kind, start):
            def go():
                q = start()
                q.awaitTermination()
                progress.extend(q.recentProgress)
            rec.op(kind, f"streaming.{kind}", go)

        def commit(kind, fn, read=True):
            n = len(res.ops)
            v = rec.op(kind, f"sinks.versioned.{kind}", fn)
            commit_ms.append(res.ops[n].ms)
            if read:
                i = state["commits"]
                state["commits"] += 1
                self._read(rec, V, spark, tbl, i, v, read_ms)
            return v

        def drain():
            return VS.drain_versioned_changes(spark, tbl, sink, str(w / "ck_drain"),
                                              extra_options={"readChangeFeed": "true"})

        with timed(tracer, res):
            stream("stream_versioned_sink", lambda: SS.stream_versioned_sink(
                EV.read_event_stream(spark, events), landing, str(w / "ck_land")))
            commit("versioned_write", lambda: V.versioned_write(
                spark.read.parquet(str(plan.initial)), tbl, bucket_by=("o_orderkey", 4)))
            commit("enable_change_data_feed", lambda: V.enable_change_data_feed(tbl), read=False)
            for u in plan.upserts:
                commit("versioned_upsert", lambda u=u: V.versioned_upsert(
                    spark.read.parquet(str(u)), tbl, ["o_orderkey"]))
            for (lo, hi), strategy in zip(plan.deletes, ("cow", "dv")):
                commit("versioned_delete", lambda lo=lo, hi=hi, s=strategy: V.versioned_delete(
                    spark, tbl, f"o_orderkey BETWEEN {lo} AND {hi}", prune_col="o_orderkey",
                    lo=lo, hi=hi, strategy=s))
            # drain the feed so far, compact, then drain again: the second
            # micro-batch holds only the compaction commit, which has no
            # change rows (the drain still counts it as delivered)
            t_rep = time.perf_counter()
            delivered = rec.op("drain", "sources.versioned_stream.drain", drain)
            res.extra["replicate_s"] = time.perf_counter() - t_rep
            commit("compact", lambda: V.compact(spark, tbl))
            t_rep = time.perf_counter()
            delivered2 = rec.op("drain", "sources.versioned_stream.drain", drain)
            rec.op("replicate", "sources.versioned_stream.replicate", lambda: VS.replicate_versioned_changes(
                spark, tbl, mirror, str(w / "ck_mirror"), ["o_orderkey"]))
            res.extra["replicate_s"] += time.perf_counter() - t_rep
        res.table_roots = [Path(p) for p in (tbl, landing, sink, mirror)]
        res.table_bytes = _dir_bytes(res.table_roots)
        res.input_bytes = plan.user_bytes
        res.extra.update(commit_ms=commit_ms, read_ms=read_ms, progress=progress,
                         batches_delivered=(delivered or 0) + (delivered2 or 0), batches_with_rows=_slices_with_rows(Path(sink)))
        res.extra["changed_rows"] = sum(
            pq.read_metadata(p).num_rows for p in plan.upserts) + sum(plan.commit_feed[-3:-1])
        res.extra["commit_input_bytes"] = sum(p.stat().st_size for p in [plan.initial, *plan.upserts])
        if index:
            # a traced run's warm pass (0) skips the end-of-pass checks:
            # they cost Spark jobs, and every timed pass makes them
            self._check(rec, spark, V, tbl, landing, sink, mirror)
        if tracer.enabled:
            res.files = spans.list_files(res.table_roots)
            res.extra["files_live"] = len(V.read_version(spark, tbl).inputFiles())
        shutil.rmtree(w, ignore_errors=True)
        return res

    def _read(self, rec, V, spark, tbl, i, version, read_ms) -> None:
        """One read after data commit ``i``, rotating over the three kinds
        (with five data commits the costlier keyed lookup comes once); the
        value is checked against the generator's model on the spot."""
        plan = self.plan
        kind = self.READS[i % 3]
        n = len(rec.result.ops)
        if kind == "snapshot_count":
            got = rec.op(kind, "sinks.versioned.read_version", lambda: V.read_version(spark, tbl).count())
            want = plan.counts[i]
        elif kind == "keyed_lookup":
            key = plan.probes[i]
            got = rec.op(kind, "sinks.versioned.read_version", lambda: V.read_version_keyed(spark, tbl, [key]).count())
            want = 1
        else:
            got = rec.op(kind, "sinks.versioned.read_change_feed", lambda: V.read_change_feed(
                spark, tbl, (version or 1) - 1, version).count())
            want = plan.commit_feed[i]
        read_ms.append(rec.result.ops[n].ms)
        rec.check(f"{kind} after commit {i}", got == want, f"{got} want {want}")

    def _check(self, rec, spark, V, tbl, landing, sink, mirror) -> None:
        from pyspark.sql import functions as F

        plan = self.plan
        keys, price = sum(plan.model), round(sum(plan.model.values()), 2)

        def fingerprint(df):
            r = df.agg(F.count("*"), F.sum("o_orderkey"), F.round(F.sum("o_totalprice"), 2)).first()
            return (r[0], r[1], r[2])

        want = (len(plan.model), keys, price)
        for name, path in (("head", tbl), ("mirror", mirror)):
            try:
                got = fingerprint(V.read_version(spark, path))
            except Exception as e:  # noqa: BLE001
                got = repr(e)[:200]
            rec.check(f"{name} snapshot", got == want, f"{got} want {want}")
        try:
            feed = {r[0]: r[1] for r in V.read_change_feed(spark, tbl, 0).groupBy("_change_type").count().collect()}
        except Exception as e:  # noqa: BLE001
            feed = {"error": repr(e)[:200]}
        want_feed = {k: v for k, v in plan.feed.items() if v}
        rec.check("change feed by type", feed == want_feed, f"{feed} want {want_feed}")
        try:
            drained = {r[0]: r[1] for r in spark.read.parquet(sink).groupBy("_change_type").count().collect()}
        except Exception as e:  # noqa: BLE001
            drained = {"error": repr(e)[:200]}
        rec.check("drained sink by type", drained == want_feed, f"{drained} want {want_feed}")
        try:
            landed = V.read_version(spark, landing).count()
        except Exception as e:  # noqa: BLE001
            landed = repr(e)[:200]
        rec.check("stream landing rows", landed == plan.event_rows, f"{landed} want {plan.event_rows}")


def _slices_with_rows(sink: Path) -> int:
    """Drained micro-batches whose landed slice holds at least one row.
    Slice files are named ``<slice prefix><4-digit index><ext>``."""
    rows: dict[str, int] = {}
    for p in sink.glob("slice-*.parquet"):
        prefix = p.stem[:-4]
        rows[prefix] = rows.get(prefix, 0) + pq.read_metadata(p).num_rows
    return sum(1 for n in rows.values() if n > 0)


# ---------------------------------------------------------------- analytic_mix

def load_check_module(root: Path):
    """``tools/check.py`` by path, for its DuckDB connection and its
    order-insensitive canonical form."""
    spec = importlib.util.spec_from_file_location("lake_oracle_check", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class AnalyticMix(Workload):
    """Read-only: build and count() each oracle-paired query in a
    seed-permuted order; results are checked against DuckDB."""

    name = "analytic_mix"

    def __init__(self, seed: int, root: Path):
        super().__init__(seed)
        self.root = root
        self.oracle: dict[str, tuple[int, list, list]] | None = None

    def generate(self, out: Path) -> dict:
        tables = gen.tpch_tables(np.random.default_rng([self.seed, 3]))
        gen.write_tables(tables, out)
        self.sf_dir = out
        return {"tables": gen.sizes(out), "rows": sum(t.num_rows for t in tables.values())}

    def prepare(self, spark) -> None:
        """The DuckDB oracle, once: every set-up generates the same bytes."""
        if self.oracle is None:
            check = load_check_module(self.root)
            self.canon = check.canon
            con = check.duck_conn(str(self.sf_dir))
            QUERIES = importlib.import_module(f"{PKG}.queries").QUERIES
            self.oracle = {}
            for q in ANALYTIC_QUERIES:
                df = con.sql(QUERIES[q].oracle).df()
                self.oracle[q] = (len(df), sorted(df.columns), check.canon(df))
            con.close()

    def run_pass(self, spark, tracer, work, index):
        """Build and count() every query and check the row counts; the
        first timed pass (index 1) then collects three seed-chosen results
        and checks their values against DuckDB (the full set costs a second
        execution of every query, which the per-run time has no room for)."""
        QUERIES = importlib.import_module(f"{PKG}.queries").QUERIES
        oracle = self.oracle
        res = PassResult()
        rec = Recorder(tracer, res)
        order = list(ANALYTIC_QUERIES)
        np.random.default_rng([self.seed, 4, index]).shuffle(order)
        built, counts = {}, {}
        query_s: list[float] = []
        with timed(tracer, res):
            for q in order:
                tq = time.perf_counter()
                df = rec.op(f"{q}.build", f"queries.{q}.build", lambda q=q: QUERIES[q].fn(spark, str(self.sf_dir)))
                counts[q] = None if df is None else rec.op(f"{q}.exec", f"queries.{q}.exec", df.count)
                query_s.append(time.perf_counter() - tq)
                built[q] = df
        res.extra["query_s"] = query_s
        valued = set(np.random.default_rng([self.seed, 5]).choice(order, 3, replace=False)) if index == 1 else set()
        for q in order:
            n, cols, canon = oracle[q]
            rec.check(f"{q} rows", counts[q] == n, f"{counts[q]} rows, oracle {n}")
            if q in valued and built[q] is not None:
                got = built[q].toPandas()
                ok = sorted(got.columns) == cols and self.canon(got) == canon
                rec.check(f"{q} values", ok, "result differs from the DuckDB oracle")
        return res


def make(name: str, seed: int, root: Path) -> Workload:
    if name == "ingest_merge":
        return IngestMerge(seed)
    if name == "lakehouse_cdc":
        return LakehouseCdc(seed)
    if name == "analytic_mix":
        return AnalyticMix(seed, root)
    raise ValueError(f"unknown workload {name!r}")
