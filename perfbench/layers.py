"""Per-layer metrics of a traced run.

Two sources: spans recorded around the workload's own calls into the
store (job, stage and task counts attributed through Spark job groups),
and direct probes of the lower layers run after the workload:

* codecs     -- encode_segment / decode_segment / chooser.choose on one
                rowgroup's worth of the generated rows, per column;
* operators  -- encode of one input batch, decode of the whole store,
                decode_matching on one key, and the aggregate / top-k
                operators the analytic mix rides;
* plans      -- prune_rowgroups_by_value on the run's lookup keys;
* warehouse  -- the committed manifest and segments reads.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc

from . import data
from .tracing import JobLedger, covered_s, median, tree_jobs

STORE_OPS = ("add_range", "close", "compact", "vacuum", "rows",
             "query_by_value")
OPERATOR_AGGS = ("group_agg", "topk", "quantile", "count_distinct")
PROBE_REPEATS = 3


def _timed(fn, repeats: int = PROBE_REPEATS) -> tuple[float, object]:
    """Median seconds over `repeats` calls, and the last result."""
    ts, out = [], None
    for _ in range(repeats):
        t = time.perf_counter()
        out = fn()
        ts.append(time.perf_counter() - t)
    return median(ts), out


def codec_probes(inp) -> dict[str, tuple[float, str]]:
    from columnstore_spark.codecs import chooser
    from columnstore_spark.codecs.segment import (decode_segment,
                                                  encode_segment,
                                                  from_arrow)
    from columnstore_spark.codecs.stats import collect

    # one rowgroup's worth, in the store's (conv_id, turn_idx) order
    tbl = inp.table
    n = -(-tbl.num_rows // 8)
    tbl = tbl.take(pc.sort_indices(
        tbl, [("conv_id", "ascending"), ("turn_idx", "ascending")]))[:n]
    out: dict[str, tuple[float, str]] = {}
    choose_s = 0.0
    for col in data.COLUMNS:
        arr = tbl.column(col).combine_chunks()
        if isinstance(arr.type, pa.TimestampType):
            arr = arr.cast(pa.timestamp("us"))
        mb = arr.nbytes / 1e6
        t_enc, seg = _timed(lambda: encode_segment(arr))
        t_dec, _ = _timed(lambda: decode_segment(seg.payload, seg.logical))
        logical, vals, validity = from_arrow(arr)
        nulls = 0 if validity is None else int(len(arr) - validity.sum())
        st = collect(vals, logical, len(arr), nulls)
        t_ch, _ = _timed(lambda: chooser.choose(st, logical, vals))
        choose_s += t_ch
        out[f"codecs.encode_mb_s.{col}"] = (mb / t_enc, "MB/s")
        out[f"codecs.decode_mb_s.{col}"] = (mb / t_dec, "MB/s")
        out[f"codecs.enc_ratio.{col}"] = (len(seg.payload) / arr.nbytes,
                                          "ratio")
    out["codecs.choose_ms"] = (choose_s * 1000, "ms")
    return out


def spark_probes(run, st, inp) -> dict[str, tuple[float, str]]:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from columnstore_spark.operators.aggregate import (count_distinct,
                                                       group_agg, quantiles)
    from columnstore_spark.operators.decode import (decode,
                                                    decode_matching,
                                                    decode_with_rowgroup,
                                                    schema_from_segments)
    from columnstore_spark.operators.encode import encode
    from columnstore_spark.operators.topk import topk
    from columnstore_spark.plans.pruning import prune_rowgroups_by_value

    spark, wh, tr = run.spark, st.warehouse, run.tracer
    out: dict[str, tuple[float, str]] = {}

    with tr.span("probe.warehouse"):
        t, _ = _timed(lambda: wh.live_manifest(spark).collect())
        out["warehouse.manifest_read_ms"] = (t * 1000, "ms")
        t, _ = _timed(lambda: wh.committed_segments(spark).agg(
            F.sum(F.length("payload"))).collect())
        out["warehouse.segments_read_ms"] = (t * 1000, "ms")

    segs = wh.committed_segments(spark)
    schema = schema_from_segments(wh.live_manifest(spark))
    lts = {"role": "string", "turn_idx": "int32"}
    key = inp.keys[0]
    with tr.span("probe.operators"):
        batch = spark.read.parquet(inp.batch_paths[0])
        cap = -(-batch.count() // 8)
        t, _ = _timed(lambda: encode(
            batch, num_rowgroups=8, rows_per_segment=cap,
            bloom_columns=("conv_id",)).write.format("noop")
            .mode("overwrite").save(), 1)
        out["operators.encode_s"] = (t, "s")
        t, _ = _timed(lambda: decode(segs, schema=schema).write
                      .format("noop").mode("overwrite").save(), 1)
        out["operators.decode_s"] = (t, "s")
        t, _ = _timed(lambda: decode_matching(
            segs, "conv_id", key, schema=schema).collect(), 1)
        out["operators.decode_matching_ms"] = (t * 1000, "ms")
        aggs = {
            "group_agg": lambda: group_agg(
                segs, "role", "turn_idx", logical_types=lts).collect(),
            "topk": lambda: topk(segs, "ts", 10,
                                 logical_type="timestamp_us").collect(),
            "quantile": lambda: quantiles(
                segs, "turn_idx", list(data.QUANTILES),
                value_type=T.IntegerType()).collect(),
            "count_distinct": lambda: count_distinct(
                segs, "conv_id", value_type=T.StringType()).collect(),
        }
        for name in OPERATOR_AGGS:
            t, _ = _timed(aggs[name], 1)
            out[f"operators.{name}_s"] = (t, "s")

    # present keys, then absent ids inside the stored key range
    stored = set(inp.table.column("conv_id").to_pylist())
    present = [k for k in dict.fromkeys(
        inp.keys + [a for ps in inp.probes for k, a in ps if k == "value"])
        if k in stored][:4]
    keys = present + [_absent_near(k, stored) for k in present[:2]]
    with tr.span("probe.plans"):
        kept, prune_s = {}, []
        for k in keys:
            t = time.perf_counter()
            kept[k] = {r[0] for r in prune_rowgroups_by_value(
                segs, "conv_id", k, logical_type="string")
                .select("rowgroup_id").distinct().collect()}
            prune_s.append(time.perf_counter() - t)
        holds: dict[str, set] = {}
        conv = T.StructType([schema["conv_id"]])
        for r in (decode_with_rowgroup(
                segs.where(F.col("column") == "conv_id"), schema=conv)
                .where(F.col("conv_id").isin(keys))
                .select("conv_id", "__rg").distinct().collect()):
            holds.setdefault(r[0], set()).add(r[1])
    n_kept = sum(len(v) for v in kept.values())
    useful = sum(len(v & holds.get(k, set())) for k, v in kept.items())
    out["plans.prune_ms"] = (median(prune_s) * 1000, "ms")
    out["plans.rowgroups_kept"] = (n_kept / len(keys), "count")
    out["plans.useful_kept_ratio"] = (useful / n_kept if n_kept else 1.0,
                                      "ratio")
    return out


def _absent_near(key: str, stored: set) -> str:
    no = int(key[1:])
    while data.conv_id(no) in stored:
        no += 1
    return data.conv_id(no)


def span_metrics(run, ledger: JobLedger, cores: int
                 ) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    out: dict[str, tuple[float, str]] = {}
    for op in STORE_OPS:
        spans = [s for s in tr.spans if s.name == f"store.{op}"]
        durs, jobs, driver = [], [], []
        for s in spans:
            js = tree_jobs(tr, s)
            busy = [(max(a, s.start), min(b, s.end))
                    for a, b in ledger.busy_intervals(js)]
            durs.append(s.dur)
            jobs.append(len(js))
            driver.append(s.dur - covered_s([iv for iv in busy
                                          if iv[1] > iv[0]]))
        out[f"store.{op}_ms"] = (median(durs) * 1000, "ms")
        out[f"store.jobs.{op}"] = (median(jobs), "count")
        out[f"store.driver_only_ms.{op}"] = (median(driver) * 1000, "ms")

    loop = run.loop_spans
    js = [j for s in loop for j in tree_jobs(tr, s)]
    stages = ledger.stage_records(js)
    wall = sum(s.dur for s in loop)
    busy = sum(st.get("executorRunTime", 0) for st in stages) / 1000
    out["spark.jobs"] = (len(js), "count")
    out["spark.tasks"] = (sum(st.get("numCompleteTasks", 0)
                              for st in stages), "count")
    out["spark.task_busy_s"] = (busy, "s")
    out["spark.cpu_util"] = (busy / (wall * cores) if wall else 0.0, "ratio")
    out["spark.shuffle_write_mb"] = (
        sum(st.get("shuffleWriteBytes", 0) for st in stages) / 1e6, "MB")

    # bookkeeping the tracer itself added, per second of traced loop
    out["trace.overhead_ratio"] = (tr.overhead_s / wall if wall else 0.0,
                                   "ratio")
    return out


def per_layer(run, ctx, cores: int, work: str, args
              ) -> dict[str, tuple[float, str]]:
    st, inp = ctx
    if not any(s.name == "store.compact" for s in run.tracer.spans):
        # a workload that never compacts still gets its store.compact
        # and store.vacuum figures, from one call each at the end
        run.attempt("store.compact", st.compact,
                    lambda r: isinstance(r, dict))
        run.attempt("store.vacuum", st.vacuum, lambda r: isinstance(r, dict))
    out = codec_probes(inp)
    out.update(spark_probes(run, st, inp))
    # every batch of the input is committed into the kept store
    out["warehouse.bytes_written_per_user_byte"] = (
        run.bytes_written / sum(inp.raw_bytes), "ratio")
    out["warehouse.compact_bytes_rewritten"] = (run.compact_bytes, "bytes")
    ledger = JobLedger(run.spark.sparkContext)
    ledger.attach(run.tracer)
    out.update(span_metrics(run, ledger, cores))
    run.tracer.dump(os.path.join(
        work, f"spans-{args.workload}-seed{args.seed}.jsonl"),
        ledger.job_stages)
    return out
