"""The closed-loop, single-client workloads against
`TranscriptColumnStore`.

Both workloads set a store up the same way, SETUP_REPEATS times (one
add_range + close of the set-up batch into a fresh root; setup_s is the
median), and keep the last one. The measured work is fixed per seed:

* ingest -- onto a base store of a seeded sample of the rows,
  INGEST_BATCHES more seeded samples, each add_range -> close -> one
  read-your-writes query_by_value (the metadata memo is invalidated
  before every read), then compact + vacuum. Then, until --seconds have
  passed (at least once): SCAN_REPEATS full rows() checks and the two
  aggregates that check the ingested rows (group_agg, count_distinct).
* query  -- the whole table in one set-up commit, read-only (warm
  metadata memo). Passes until --seconds have passed (at least one):
  the analytic mix (query_where, query_by_contains, group_agg, topk,
  quantile, count_distinct) with the pass's point probes between its
  queries (present keys, an absent key, an 8-key IN-list), then
  SCAN_REPEATS full rows() decodes.

--seconds only adds repeats over a store that no longer changes, so a
faster program measures the same store.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import data
from .tracing import Tracer, median

# ingest: a base sample of INGEST_BASE_ROWS rows (the set-up commit),
# then INGEST_BATCHES samples of INGEST_BATCH_ROWS rows
INGEST_BASE_ROWS = 16_000
INGEST_BATCH_ROWS = 5_000
INGEST_BATCHES = 3
# query: one store of STORE_ROWS rows
STORE_ROWS = 32_000
NUM_ROWGROUPS = 8
SETUP_REPEATS = 3
WARMUP_ROWS = 2_000
# full rows() decodes per query pass and per ingest check: one ~2 s
# scan is too few for a steady median
SCAN_REPEATS = 2
QUERY_PASSES = 8
# the mix queries ingest checks its compacted store with
INGEST_CHECKS = ("group_agg", "count_distinct")


@dataclass
class Run:
    """State of one benchmark run: counters, samples and the store."""
    spark: object
    tracer: Tracer
    tmp: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    setup_s: list[float] = field(default_factory=list)
    commit_s: list[float] = field(default_factory=list)
    setup_close_s: list[float] = field(default_factory=list)
    ingest_bytes: int = 0
    ingest_s: float = 0.0
    lookup_s: list[float] = field(default_factory=list)
    reads: dict[str, list[float]] = field(default_factory=dict)
    mix_s: list[float] = field(default_factory=list)
    scan_mb_s: list[float] = field(default_factory=list)
    stored_ratio: float = float("nan")
    bytes_written: int = 0
    compact_bytes: int = 0
    loop_spans: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def attempt(self, name: str, fn, check=None):
        """Run one op inside a span; an exception or a failed check
        counts it as failed. Returns (result, seconds, ok)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
            dt = time.perf_counter() - t
            ok = True if check is None else bool(check(out))
            if not ok:
                print(f"perfbench: wrong answer from {name}", file=sys.stderr)
        except Exception:
            dt = time.perf_counter() - t
            traceback.print_exc()
            out, ok = None, False
        if not ok:
            self.failed += 1
        return out, dt, ok

    def read(self, kind: str, fn, check) -> float:
        """A checked store read; its latency is kept under `kind`."""
        _, dt, _ = self.attempt(f"store.{kind}", fn, check)
        self.reads.setdefault(kind, []).append(dt)
        return dt

    def op(self, kind: str, fn, op: int):
        """One step of the measured loop, in a span of its own."""
        with self.tracer.span(f"loop.{kind}", op=op) as s:
            out = fn()
        if s is not None:
            self.loop_spans.append(s)
        return out


def tree_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _commit(run: Run, st, inp, b: int) -> tuple[float, float, bool]:
    """add_range + close of batch `b`: (add_range s, close s, ok)."""
    before = tree_bytes(st.root)
    df = run.spark.read.parquet(inp.batch_paths[b])
    _, ta, ok_a = run.attempt("store.add_range", lambda: st.add_range(df),
                              lambda r: r >= 0)
    _, tc, ok_c = run.attempt("store.close", st.close, lambda n: n == 1)
    run.bytes_written += max(0, tree_bytes(st.root) - before)
    return ta, tc, ok_a and ok_c


def _setup(run: Run, rows: int, batch_rows: list[int], passes: int,
           mix: tuple[str, ...]):
    """Generate, persist and ground-truth the input once (untimed), warm
    up, then set the store up SETUP_REPEATS times: add_range + close of
    batch 0 into a fresh root. setup_s is the median; the last store is
    kept."""
    from columnstore_spark.store import TranscriptColumnStore
    t = time.perf_counter()
    with run.tracer.span("setup.inputs"):
        inp = data.make_inputs(run.seed, rows, batch_rows,
                               f"{run.tmp}/input", passes)
        truth = data.ground_truth(run.spark, inp)
        mix_want = data.mix_truth(run.spark, inp, mix)
    run.info["inputs_s"] = round(time.perf_counter() - t, 3)
    # rowgroup capacity (rows_per_segment) = the set-up batch over
    # NUM_ROWGROUPS. The zipf-head conversations are longer and split
    # across rowgroups; set-up rowgroups are about full and a later
    # ingest batch's well under half, so compact() takes those and only
    # those, whatever the seed
    cap = -(-batch_rows[0] // NUM_ROWGROUPS)
    # one untimed set-up of a slice of the batch first: the Python
    # workers and the JVM's encode path warm up here, so the timed
    # set-ups below are alike
    warm = TranscriptColumnStore(run.spark, f"{run.tmp}/warmup",
                                 num_rowgroups=NUM_ROWGROUPS,
                                 rows_per_segment=cap)
    with run.tracer.span("setup.warmup"):
        warm.add_range(run.spark.read.parquet(inp.batch_paths[0])
                       .limit(WARMUP_ROWS))
        warm.close()
    for i in range(SETUP_REPEATS):
        run.bytes_written = 0  # count the kept store's writes only
        st = TranscriptColumnStore(run.spark, f"{run.tmp}/store{i}",
                                   num_rowgroups=NUM_ROWGROUPS,
                                   rows_per_segment=cap)
        with run.tracer.span("setup.store"):
            ta, tc, ok = _commit(run, st, inp, 0)
        if ok:
            run.setup_s.append(ta + tc)
            run.setup_close_s.append(tc)
    run.info.update(rows=rows, raw_mb=round(sum(inp.raw_bytes) / 1e6, 3),
                    **data.shape(inp.table))
    return inp, truth, mix_want, st


def _finish_store(run: Run, st, raw_bytes: int) -> None:
    """compact + vacuum, then bytes under the store root per raw byte."""
    before = tree_bytes(st.root)
    t = time.perf_counter()
    run.attempt("store.compact", st.compact, lambda r: isinstance(r, dict))
    run.compact_bytes = max(0, tree_bytes(st.root) - before)
    run.bytes_written += run.compact_bytes
    run.attempt("store.vacuum", st.vacuum, lambda r: isinstance(r, dict))
    run.info["compact_vacuum_s"] = round(time.perf_counter() - t, 3)
    _stored(run, st, raw_bytes)


def _stored(run: Run, st, raw_bytes: int) -> None:
    total = tree_bytes(st.root)
    run.stored_ratio = total / raw_bytes
    delta = tree_bytes(os.path.join(st.root, "delta"))
    run.info.update(stored_mb=round(total / 1e6, 3),
                    stored_delta_mb=round(delta / 1e6, 3))


def _rows_pass(run: Run, st, want, raw_bytes: int) -> None:
    """Full rows() decode folded into an order-insensitive digest."""
    _, dt, ok = run.attempt("store.rows", lambda: data.digest(st.rows()),
                            lambda d: d == want)
    if ok:
        run.scan_mb_s.append(raw_bytes / 1e6 / dt)


MIX = ("query_where", "query_by_contains", "group_agg", "topk", "quantile",
       "count_distinct")


def _mix(st, inp):
    lo, hi = inp.turn_range
    return {
        "query_where": lambda: data.digest(st.query_where(
            {"role": "user", "turn_idx": (lo, hi)})),
        "query_by_contains": lambda: data.digest(
            st.query_by_contains("text", inp.needle)),
        "group_agg": lambda: sorted(
            tuple(r) for r in st.group_agg("role", "turn_idx").collect()),
        "topk": lambda: [r["ts"] for r in st.topk("ts", 10).collect()],
        "quantile": lambda: {r["q"]: r["value"] for r in st.quantile(
            "turn_idx", list(data.QUANTILES)).collect()},
        "count_distinct": lambda: st.count_distinct("conv_id").first()[0],
    }


def _run_mix(run: Run, st, inp, names, want, between=()) -> None:
    """The named mix queries, checked, with the `between` callables run
    after each of them; the summed query latency is one mix_s sample."""
    fns = _mix(st, inp)
    between = list(between)
    total = 0.0
    for name in names:
        total += run.read(name, fns[name], lambda r, w=want[name]: r == w)
        if between:
            between.pop(0)()
    for rest in between:
        rest()
    run.mix_s.append(total)


def _until_deadline(t0: float, seconds: float, done: int) -> bool:
    """At least one repeat, then more while --seconds have not passed."""
    return done == 0 or time.perf_counter() < t0 + seconds


def ingest(run: Run):
    batch_rows = [INGEST_BASE_ROWS] + [INGEST_BATCH_ROWS] * INGEST_BATCHES
    rows = sum(batch_rows)
    inp, truth, mix_want, st = _setup(run, rows, batch_rows, 0,
                                      INGEST_CHECKS)
    t0 = time.perf_counter()
    for b in range(1, INGEST_BATCHES + 1):
        ta, tc, ok = run.op("commit", lambda: _commit(run, st, inp, b), b)
        if ok:
            run.ingest_bytes += inp.raw_bytes[b]
            run.ingest_s += ta + tc
            run.commit_s.append(tc)
        key, want = inp.keys[b], truth.rows_upto(inp.keys[b], b)
        dt = run.op("fresh_lookup", lambda: run.read(
            "query_by_value",
            lambda: st.query_by_value("conv_id", key).collect(),
            lambda r: len(r) == want), b)
        run.lookup_s.append(dt)
    run.op("finish", lambda: _finish_store(run, st, sum(inp.raw_bytes)), 0)
    want = data.combine(truth.batch_digest.values())
    done = 0
    while _until_deadline(t0, run.seconds, done):
        for _ in range(SCAN_REPEATS):
            run.op("check", lambda: _rows_pass(run, st, want,
                                               sum(inp.raw_bytes)), done)
        run.op("check", lambda: _run_mix(run, st, inp, INGEST_CHECKS,
                                         mix_want), done)
        done += 1
    run.info.update(batches=INGEST_BATCHES, checks=done)
    return st, inp


def _probe(run: Run, st, truth, p):
    kind, arg = p
    n = truth.probe_rows(p)
    if kind == "in":
        return lambda: run.read(
            "query_by_in",
            lambda: st.query_by_in("conv_id", arg).collect(),
            lambda r: len(r) == n)

    def lookup():
        dt = run.read("query_by_value" if n else "absent_key",
                      lambda: st.query_by_value("conv_id", arg).collect(),
                      lambda r: len(r) == n)
        if n:
            run.lookup_s.append(dt)
    return lookup


def query(run: Run):
    inp, truth, mix_want, st = _setup(run, STORE_ROWS, [STORE_ROWS],
                                      QUERY_PASSES, MIX)
    _stored(run, st, inp.raw_bytes[0])
    # this workload's commits are its set-up builds
    run.ingest_bytes = inp.raw_bytes[0]
    run.ingest_s = median(run.setup_s, 0.0)
    run.commit_s = run.setup_close_s
    t0 = time.perf_counter()
    passes = 0
    while passes < QUERY_PASSES and _until_deadline(t0, run.seconds, passes):
        probes = [_probe(run, st, truth, p) for p in inp.probes[passes]]
        run.op("mix", lambda: _run_mix(run, st, inp, MIX, mix_want,
                                       probes), passes)
        for _ in range(SCAN_REPEATS):
            run.op("rows", lambda: _rows_pass(
                run, st, truth.batch_digest[0], inp.raw_bytes[0]), passes)
        passes += 1
    run.info["passes"] = passes
    return st, inp


WORKLOADS = {"ingest": ingest, "query": query}


def end_to_end(run: Run, peak_rss: int) -> dict[str, tuple[float, str]]:
    """The gated metrics; every one is measured on every workload."""
    return {
        "setup_s": (median(run.setup_s), "s"),
        "ingest_mb_s": (run.ingest_bytes / 1e6 / run.ingest_s
                        if run.ingest_s else float("nan"), "MB/s"),
        "commit_p50_s": (median(run.commit_s), "s"),
        "lookup_p50_ms": (median(run.lookup_s) * 1000, "ms"),
        "query_mix_s": (median(run.mix_s), "s"),
        "scan_mb_s": (median(run.scan_mb_s), "MB/s"),
        "stored_bytes_ratio": (run.stored_ratio, "ratio"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
        "ok_ops_ratio": ((run.attempted - run.failed) / run.attempted
                         if run.attempted else float("nan"), "ratio"),
    }


def details(run: Run) -> dict[str, object]:
    """Ungated figures printed beside the metrics, each with its sample
    count: the latency of every kind of read, and the set-up times."""
    out = {k: {"p50_ms": round(median(v) * 1000, 3), "n": len(v)}
           for k, v in sorted(run.reads.items())}
    out["lookup_samples"] = len(run.lookup_s)
    out["setup_s"] = [round(s, 3) for s in run.setup_s]
    return out
