"""Seeded inputs and plain-Spark ground truth for the store benchmark.

The generator follows the transcript table of FIXTURES.md F1 (conv_id,
turn_idx, role, text, tool, ts):

* conversation sizes are zipfian (s = 1.2 over conversation rank), so a
  few huge conversations sit beside many one- or two-turn ones, and the
  largest is longer than a rowgroup's `rows_per_segment`;
* `text` is multi-sentence prose from a fixed table of 4096 words with
  zipfian word frequencies, its length lognormal with a mean of about
  400 characters;
* `role` has four values; `tool` is one of 16 names on ~30 % of rows,
  null elsewhere;
* `ts` starts each conversation at a random time in one month and adds
  1-300 s per turn; rows come in `ts` order, so the table is globally
  near-sorted. Ingest batches are seeded random samples of the rows,
  each in `ts` order.

It is built with numpy/pyarrow only, so the program under test sees
nothing but the generated rows. The same seed gives the same table,
batches, probe keys and needles.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
ZIPF_S = 1.2
VOCAB = 4096
TEXT_MEAN_CHARS = 400
TEXT_SIGMA = 0.6
SENTENCE_WORDS = 12
ROLES = ("user", "assistant", "tool", "system")
ROLE_P = (0.40, 0.40, 0.15, 0.05)
# a tool row always names its tool; so does this share of assistant rows
ASSISTANT_TOOL_P = 0.375
TOOLS = tuple(f"tool_{i}" for i in range(16))
GAP_S = (1, 300)
_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
_MONTH_US = 30 * 86_400 * 1_000_000
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"] + \
    ["th", "st", "qu", "ng", "er", "an", "in", "on"]


def conv_sizes(n_rows: int) -> np.ndarray:
    """Rows per conversation, largest first: rank k holds ~k^-ZIPF_S of
    the rows, with as many conversations as leaves the last one a row."""
    def tail(k):
        r = np.arange(1, k + 1) ** -ZIPF_S
        return n_rows * r[-1] / r.sum()
    lo, hi = 1, 2
    while tail(hi) >= 1:
        lo, hi = hi, hi * 2
    while hi - lo > 1:
        mid = (lo + hi) // 2
        lo, hi = (mid, hi) if tail(mid) >= 1 else (lo, mid)
    r = np.arange(1, lo + 1) ** -ZIPF_S
    sizes = np.maximum(1, np.floor(n_rows * r / r.sum())).astype(np.int64)
    sizes[0] += n_rows - sizes.sum()
    return sizes


def _words() -> np.ndarray:
    """The word table, the same for every seed (a fixed language): only
    which words a row uses depends on the seed."""
    rng = np.random.default_rng(0)
    syl = np.array(_SYLLABLES, dtype=object)
    return np.array(["".join(rng.choice(syl, k))
                     for k in rng.integers(1, 4, VOCAB)], dtype=object)


def _texts(rng, n: int) -> pa.Array:
    words = _words()
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    mean_word = float(p @ np.array([len(w) + 1 for w in words]))
    mu = np.log(TEXT_MEAN_CHARS) - TEXT_SIGMA ** 2 / 2
    chars = np.clip(rng.lognormal(mu, TEXT_SIGMA, n), 16, 4000)
    n_words = np.maximum(2, np.round(chars / mean_word)).astype(np.int64)
    tok = words[rng.choice(VOCAB, int(n_words.sum()), p=p)]
    ends = rng.random(len(tok)) < 1 / SENTENCE_WORDS
    tok[ends] = tok[ends] + "."
    offs = np.r_[0, np.cumsum(n_words)]
    return pa.array([" ".join(tok[offs[i]:offs[i + 1]]) for i in range(n)],
                    pa.string())


@dataclass
class Table:
    rows: pa.Table          # in ts order
    conv_nos: np.ndarray    # every conv_no present, sorted


def conv_id(no: int) -> str:
    return f"c{no:012d}"


def transcripts(seed: int, n_rows: int) -> Table:
    """`n_rows` transcript rows from `seed`, in `ts` order."""
    rng = np.random.default_rng(seed)
    sizes = conv_sizes(n_rows)
    k = len(sizes)
    # sparse ids: the key range holds 3 absent ids per present one
    nos = np.sort(rng.choice(4 * k, k, replace=False))
    conv = np.repeat(rng.permutation(nos), sizes)
    starts = np.r_[0, np.cumsum(sizes)[:-1]]
    turn = (np.arange(n_rows) - np.repeat(starts, sizes)).astype(np.int32)
    gaps = rng.integers(GAP_S[0] * 1_000_000, GAP_S[1] * 1_000_000, n_rows)
    gaps[starts] = 0
    run = np.cumsum(gaps)
    begin = rng.integers(0, _MONTH_US, k)
    ts = _T0_US + np.repeat(begin, sizes) + run - np.repeat(run[starts], sizes)
    role = rng.choice(len(ROLES), n_rows, p=ROLE_P)
    has_tool = (role == 2) | ((role == 1)
                              & (rng.random(n_rows) < ASSISTANT_TOOL_P))
    tool = np.where(has_tool, np.array(TOOLS, dtype=object)[
        rng.integers(0, len(TOOLS), n_rows)], None)
    tbl = pa.table({
        "conv_id": pa.array([conv_id(c) for c in conv], pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(np.array(ROLES, dtype=object)[role], pa.string()),
        "text": _texts(rng, n_rows),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    order = np.argsort(ts, kind="stable")
    return Table(tbl.take(pa.array(order)), nos)


def shape(tbl: pa.Table) -> dict[str, float]:
    """The figures that tie the generated input to the real one: text
    share of raw bytes, rows per conversation, text length."""
    convs = pc.value_counts(tbl.column("conv_id")).field("counts")
    return {
        "text_share_of_raw": round(tbl.column("text").nbytes / tbl.nbytes, 3),
        "rows_per_conv_mean": round(tbl.num_rows / len(convs), 2),
        "rows_per_conv_max": int(pc.max(convs).as_py()),
        "text_chars_mean": round(pc.mean(
            pc.utf8_length(tbl.column("text"))).as_py(), 1),
        "tool_null_share": round(tbl.column("tool").null_count
                                 / tbl.num_rows, 3),
    }


@dataclass
class Inputs:
    """One workload's generated input, persisted as parquet."""
    table: pa.Table
    batch_paths: list[str]
    all_path: str                   # every row plus its `batch` column
    raw_bytes: list[int]            # Arrow bytes of every batch
    keys: list[str]                 # one conv_id present in each batch
    probes: list = field(default_factory=list)  # per query pass
    needle: str = ""
    turn_range: tuple[int, int] = (0, 0)


def make_inputs(seed: int, n_rows: int, batch_rows: list[int],
                out_dir: str, n_passes: int = 0) -> Inputs:
    """Generate the table and split it into seeded random batches of
    `batch_rows` rows, each kept in ts order (every conversation spreads
    over the batches in the same shares whatever the seed, so read-your-
    writes lookups see it grow); write them under `out_dir`."""
    gen = transcripts(seed, n_rows)
    tbl = gen.rows
    rng = np.random.default_rng(seed + 1)
    assert sum(batch_rows) == n_rows
    batch_of = np.empty(n_rows, dtype=np.int16)
    batch_of[rng.permutation(n_rows)] = np.repeat(
        np.arange(len(batch_rows), dtype=np.int16), batch_rows)
    os.makedirs(out_dir, exist_ok=True)
    paths, raw, keys = [], [], []
    for b in range(len(batch_rows)):
        part = tbl.filter(pa.array(batch_of == b))
        path = f"{out_dir}/batch_{b:03d}.parquet"
        pq.write_table(part, path)
        paths.append(path)
        raw.append(part.nbytes)
        keys.append(str(rng.choice(pc.unique(part.column("conv_id"))
                                   .to_numpy(zero_copy_only=False))))
    all_path = f"{out_dir}/all.parquet"
    pq.write_table(tbl.append_column("batch", pa.array(batch_of)), all_path)
    inp = Inputs(tbl, paths, all_path, raw, keys)
    if n_passes:
        inp.probes = _probes(rng, gen.conv_nos, n_passes)
    text = tbl.column("text")
    words = str(text[int(rng.integers(0, len(text)))]).split()
    w = int(rng.integers(0, max(1, len(words) - 1)))
    inp.needle = " ".join(words[w:w + 2]).rstrip(".")
    lo = int(rng.integers(0, 20))
    inp.turn_range = (lo, lo + int(rng.integers(5, 30)))
    return inp


PRESENT_PROBES = 3
IN_KEYS = 8


def _probes(rng, nos: np.ndarray, n_passes: int) -> list:
    """Probes of each query pass, in order: PRESENT_PROBES present keys
    (uniform over conversations) with an absent key (a well-formed id
    inside the stored key range, so only the Bloom filters can prune
    it) after the first, and an IN_KEYS-key IN-list last."""
    present = set(nos.tolist())
    out = []
    for _ in range(n_passes):
        keys = [conv_id(k) for k in rng.choice(
            nos, PRESENT_PROBES + IN_KEYS, replace=False)]
        absent = int(rng.integers(nos[0], nos[-1]))
        while absent in present:
            absent += 1
        ps = [("value", k) for k in keys[:PRESENT_PROBES]]
        ps.insert(1, ("value", conv_id(absent)))
        out.append(ps + [("in", keys[PRESENT_PROBES:])])
    return out


# -- ground truth (plain Spark over the persisted raw input) ----------------

def digest(df):
    """Order-insensitive (count, sum, xor) of a per-row xxhash64 over the
    columns in name order: equal for equal multisets of rows."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(h.cast("decimal(38,0)")).alias("s"),
               F.bit_xor(h).alias("x")).first()
    return (int(r["n"]), int(r["s"] or 0), int(r["x"] or 0))


def combine(digests) -> tuple[int, int, int]:
    n = s = x = 0
    for dn, ds, dx in digests:
        n, s, x = n + dn, s + ds, x ^ dx
    return (n, s, x)


QUANTILES = (0.5, 0.9)


@dataclass
class Truth:
    batch_digest: dict[int, tuple[int, int, int]]
    key_counts: dict[tuple[str, int], int]  # (conv_id, batch) -> rows

    def rows_upto(self, key: str, last_batch: int) -> int:
        return sum(c for (k, b), c in self.key_counts.items()
                   if k == key and b <= last_batch)

    def probe_rows(self, probe) -> int:
        kind, arg = probe
        keys = [arg] if kind == "value" else list(arg)
        return sum(c for (k, _b), c in self.key_counts.items() if k in keys)


def ground_truth(spark, inp: Inputs) -> Truth:
    """Per-batch digests and the row counts of every key the run looks
    up, in one grouped pass: rows of other keys group under a null
    key."""
    from pyspark.sql import functions as F
    want = set(inp.keys)
    for kind, arg in (p for ps in inp.probes for p in ps):
        want.update([arg] if kind == "value" else arg)
    h = F.xxhash64(*[F.col(c) for c in sorted(COLUMNS)])
    key = F.when(F.col("conv_id").isin(sorted(want)), F.col("conv_id"))
    groups = (spark.read.parquet(inp.all_path)
              .groupBy("batch", key.alias("key"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(h.cast("decimal(38,0)")).alias("s"),
                   F.bit_xor(h).alias("x")).collect())
    per_batch: dict[int, list] = {}
    counts = {}
    for r in groups:
        b = int(r["batch"])
        per_batch.setdefault(b, []).append(
            (int(r["n"]), int(r["s"]), int(r["x"])))
        if r["key"] is not None:
            counts[(r["key"], b)] = int(r["n"])
    return Truth({b: combine(ds) for b, ds in per_batch.items()}, counts)


def mix_truth(spark, inp: Inputs, names) -> dict[str, object]:
    """Answers of the named analytic mix queries, by plain Spark: one
    grouped aggregate for group_agg, one pass of global aggregates for
    the rest (the two filters as conditional digests)."""
    from pyspark.sql import functions as F
    data = spark.read.parquet(inp.all_path).select(*COLUMNS)
    lo, hi = inp.turn_range
    h = F.xxhash64(*[F.col(c) for c in sorted(COLUMNS)])
    filters = {
        "query_where": (F.col("role") == "user")
        & F.col("turn_idx").between(lo, hi),
        "query_by_contains": F.col("text").contains(inp.needle),
    }
    aggs = {
        "quantile": [F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY turn_idx)")
            for q in QUANTILES],
        "count_distinct": [F.count_distinct("conv_id")],
        "topk": [F.slice(F.sort_array(F.collect_list("ts"), False), 1, 10)],
    }
    for name, cond in filters.items():
        hc = F.when(cond, h)
        aggs[name] = [F.count(hc), F.sum(hc.cast("decimal(38,0)")),
                      F.bit_xor(hc)]
    glob = [n for n in names if n in aggs]
    row = data.select(*[a for n in glob for a in aggs[n]]).first() \
        if glob else ()
    out, i = {}, 0
    for n in glob:
        v = row[i:i + len(aggs[n])]
        i += len(aggs[n])
        if n in filters:
            out[n] = (int(v[0]), int(v[1] or 0), int(v[2] or 0))
        elif n == "quantile":
            out[n] = dict(zip(QUANTILES, v))
        else:
            out[n] = list(v[0]) if n == "topk" else v[0]
    if "group_agg" in names:
        out["group_agg"] = sorted(
            tuple(r) for r in data.groupBy("role").agg(
                F.count(F.lit(1)), F.count("turn_idx"),
                F.sum("turn_idx"), F.min("turn_idx"),
                F.max("turn_idx")).collect())
    return out
