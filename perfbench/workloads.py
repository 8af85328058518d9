"""The benchmark's workloads: seeded inputs, numpy oracles and one op each.

Inputs are generated here, with numpy, and written as a directory of
parquet files, so the program only ever sees finished input and a change to
the program cannot change what it is given. Each file is a transcript table
in the shape of ``puddsketch_spark.datagen.transcripts(with_text=False)`` —
conv_id, turn_idx, role, text_len (1..999), tool, ts, with 1..15 turns per
conversation, the same role mix and exponential(1 s) gaps between turns —
plus two columns:

* ``v_us``: the turn timestamp in µs modulo 10^9, a near-unique double
  spanning nine decades;
* ``shard``: a uniform random group in [0, 256) drawn per conversation,
  a 256-cardinality group key.

An op is one closed-loop call sequence into the public API whose whole
result is collected on the driver and checked against exact answers
computed with numpy from the generated arrays. An op fails its check when
a result row is missing or unexpected, when a UDDSketch estimate is off by
more than α′ (α after the collapses the group's value set forces under the
m-bucket limit — a deterministic guarantee), or when a count-min estimate
is below the true count (also deterministic). The other kernels' errors
are recorded, as a share of each kernel's stated bound, and fail nothing:

* KLL: normalized rank error / ``KLLSketch.rank_eps`` (holds with high
  probability, not always).
* t-digest: normalized rank error / ``TDIGEST_RANK_TOL``; t-digest states
  no bound, so the benchmark fixes this tolerance.
* HLL: relative error / (1.04 / sqrt(m)), a standard error.
* count-min: (estimate − true) / (ε N), which holds per query with
  probability 1 − e^-depth.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

QS = (0.5, 0.9, 0.99, 0.999)
# fill_dup_few has 7 groups of integer-valued features: with QS alone its
# largest UDDSketch error depends on where a few quantiles fall inside their
# buckets, so it asks for every percentile to let the maximum settle near α′
QS_DENSE = tuple(i / 100 for i in range(1, 100)) + (0.999,)
ALPHA, M = 0.01, 200  # udds_quantiles defaults
KLL_K = 200
TDIGEST_DELTA = 200.0
TDIGEST_RANK_TOL = 0.01
HLL_P = 14
CMS_DEPTH, CMS_WIDTH = 5, 2048
CMS_PROBES = 200  # conv_ids queried per group
SHARDS = 256

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "python", "browser", "editor")
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

# Row counts are chosen so one op takes seconds on local[3]; "smoke" runs
# every code path on a few thousand rows.
SIZES = {
    "bench": {
        "fill_dup_few": {"files": 8, "n_conv": 31_250},
        "fill_unique_many": {"files": 8, "n_conv": 16_000},
        "ingest_incremental": {"files": 8, "n_conv": 20_000},
    },
    "smoke": {
        "fill_dup_few": {"files": 3, "n_conv": 400},
        "fill_unique_many": {"files": 3, "n_conv": 400},
        "ingest_incremental": {"files": 3, "n_conv": 400},
    },
}


def generate_file(seed: int, index: int, n_conv: int) -> dict:
    """Columns of transcript file ``index`` as numpy arrays; role and tool
    as codes into ROLES / TOOLS (tool -1 = NULL), conv as a global index."""
    rng = np.random.default_rng([seed, index])
    n_turns = 1 + (rng.random(n_conv) * 15).astype(np.int64)
    conv = np.repeat(np.arange(n_conv), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn_idx = np.arange(conv.size) - np.repeat(starts, n_turns)
    role = np.searchsorted([0.40, 0.80, 0.85], rng.random(conv.size), side="right")
    tool = np.where(role == 3, rng.integers(0, len(TOOLS), conv.size), -1)
    text_len = 1.0 + np.floor(rng.random(conv.size) * 999)
    lat = np.ceil(rng.exponential(1e6, conv.size)).astype(np.int64)
    cum = np.cumsum(lat)
    in_conv = cum - np.repeat(cum[starts] - lat[starts], n_turns)
    conv_global = index * n_conv + conv
    ts = T0_US + conv_global * 60_000_000 + in_conv
    shard = rng.integers(0, SHARDS, n_conv)[conv]
    return {"conv": conv_global, "turn_idx": turn_idx, "role": role, "tool": tool,
            "text_len": text_len, "ts": ts, "v_us": (ts % 10**9).astype(np.float64),
            "shard": shard, "conv_base": index * n_conv, "n_conv": n_conv}


def write_file(cols: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    conv_ids = pa.array([f"c{g:08d}" for g in range(cols["conv_base"],
                                                      cols["conv_base"] + cols["n_conv"])])
    local = (cols["conv"] - cols["conv_base"]).astype(np.int32)
    tool = cols["tool"]
    table = pa.table({
        "conv_id": pa.DictionaryArray.from_arrays(pa.array(local), conv_ids),
        "turn_idx": pa.array(cols["turn_idx"].astype(np.int32)),
        "role": pa.DictionaryArray.from_arrays(pa.array(cols["role"].astype(np.int32)),
                                               pa.array(ROLES)),
        "text_len": pa.array(cols["text_len"]),
        "tool": pa.DictionaryArray.from_arrays(
            pa.array(np.maximum(tool, 0).astype(np.int32), mask=tool < 0), pa.array(TOOLS)),
        "ts": pa.array(cols["ts"], type=pa.timestamp("us", tz="UTC")),
        "v_us": pa.array(cols["v_us"]),
        "shard": pa.array(cols["shard"].astype(np.int32)),
    })
    pq.write_table(table, path)


def concat(files: list[dict]) -> dict:
    return {k: np.concatenate([f[k] for f in files])
            for k in ("conv", "turn_idx", "role", "tool", "text_len", "v_us", "shard")}


_LABELS = {"role": ROLES, "tool": (None, *TOOLS)}


def group_codes(cols: dict, names) -> tuple[list, np.ndarray]:
    """(keys, codes): the group key tuples, with NULL as None as Spark
    returns them, and each row's index into them."""
    combined, labels = np.zeros(cols["role"].size, np.int64), []
    for name in names:
        codes = cols[name] + (1 if name == "tool" else 0)
        lab = _LABELS.get(name, range(SHARDS))
        combined = combined * len(lab) + codes
        labels.append(lab)
    ug, inv = np.unique(combined, return_inverse=True)
    keys = []
    for code in ug:
        key = []
        for lab in reversed(labels):
            code, r = divmod(int(code), len(lab))
            key.append(lab[r])
        keys.append(tuple(reversed(key)))
    return keys, inv


class Oracle:
    """Exact per-group order statistics of one value column."""

    def __init__(self, keys, codes, values):
        order = np.lexsort((values, codes))
        self.sv = values[order]
        self.sc = codes[order]
        g = np.arange(len(keys))
        self.start = np.searchsorted(self.sc, g, "left")
        self.end = np.searchsorted(self.sc, g, "right")
        self.index = {k: i for i, k in enumerate(keys)}
        self._alpha = None

    def count(self, gi: int) -> int:
        return int(self.end[gi] - self.start[gi])

    def exact(self, gi: int, q: float) -> float:
        """The rank floor(q (n-1)) order statistic (UDDSketch's rank rule)."""
        return float(self.sv[self.start[gi] + int(math.floor(q * (self.count(gi) - 1)))])

    def rank_error(self, gi: int, q: float, est: float) -> float:
        seg = self.sv[self.start[gi]:self.end[gi]]
        lo = np.searchsorted(seg, est, "left") / seg.size
        hi = np.searchsorted(seg, est, "right") / seg.size
        return float(max(0.0, lo - q, q - hi))

    def udd_alpha(self, gi: int) -> float:
        """α′ of the group's UDDSketch: α after the fewest collapses that
        bring its distinct bucket keys to at most M."""
        if self._alpha is None:
            gamma0 = (1.0 + ALPHA) / (1.0 - ALPHA)
            pos = self.sv >= np.finfo(np.float64).tiny
            key0 = np.ceil(np.log(self.sv[pos]) / float(np.log(gamma0))).astype(np.int64)
            gc = self.sc[pos]
            n_groups = len(self.index)
            collapses = np.full(n_groups, -1)
            c = 0
            while (collapses < 0).any():
                k = -((-key0) // (1 << c))
                new = np.ones(k.size, bool)
                new[1:] = (k[1:] != k[:-1]) | (gc[1:] != gc[:-1])
                n_buckets = np.bincount(gc[new], minlength=n_groups)
                collapses[(collapses < 0) & (n_buckets <= M)] = c
                c += 1
            g = gamma0 ** (2.0 ** collapses)
            self._alpha = (g - 1.0) / (g + 1.0)
        return float(self._alpha[gi])

    def udd_error(self, gi: int, q: float, est: float) -> float:
        x = self.exact(gi, q)
        err = abs(est - x) / x if x > 0 else abs(est)
        return err / self.udd_alpha(gi)


@dataclass
class Check:
    """Largest error share per kernel over one op's estimates."""

    ratios: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)

    def add(self, kernel: str, ratio: float, hard: bool, what) -> None:
        self.ratios[kernel] = max(self.ratios.get(kernel, 0.0), ratio)
        if hard and not ratio <= 1.0 + 1e-9:
            self.failures.append((kernel, what, ratio))

    def expect(self, ok: bool, what) -> None:
        if not ok:
            self.failures.append(("rows", what, None))


def check_quantile_rows(check, oracle, rows, group_cols, kernel, feature=None, qs=QS):
    """Check (group..., q, est) rows of a quantile table: one row per
    group and q, each within the kernel's bound."""
    seen = set()
    for r in rows:
        if feature is not None and r["feature"] != feature:
            continue
        key = tuple(r[g] for g in group_cols)
        gi = oracle.index.get(key)
        check.expect(gi is not None, (kernel, key))
        if gi is None:
            continue
        seen.add((gi, r["q"]))
        if kernel == "udds":
            check.add("udds", oracle.udd_error(gi, r["q"], r["est"]), True, key)
        elif kernel == "kll":
            eps = 2.296 / KLL_K ** 0.9723  # KLLSketch.rank_eps
            check.add("kll", oracle.rank_error(gi, r["q"], r["est"]) / eps, False, key)
        else:
            check.add("tdigest", oracle.rank_error(gi, r["q"], r["est"]) / TDIGEST_RANK_TOL,
                      False, key)
    check.expect(len(seen) == len(oracle.index) * len(qs), (kernel, feature, "coverage"))


class Workload:
    """Shared input handling: a directory of seeded transcript files."""

    name = ""
    value_col = ""
    group_cols: tuple = ()

    def __init__(self, spark, work_dir: str, seed: int, size: str):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.cfg = SIZES[size][self.name]
        self.table_dir = os.path.join(work_dir, "table")
        self.input_rows = 0

    def generate(self) -> None:
        """One input set-up: generate and write the files, register the
        table. Repeated set-ups rewrite the same files."""
        if os.path.exists(self.table_dir):
            shutil.rmtree(self.table_dir)
        os.makedirs(self.table_dir)
        parts, self.files = [], []
        for i in range(self.cfg["files"]):
            cols = generate_file(self.seed, i, self.cfg["n_conv"])
            path = os.path.join(self.table_dir, f"f{i:03d}.parquet")
            write_file(cols, path)
            parts.append(cols)
            self.files.append(path)
        self.cols = concat(parts)
        self.table = self.spark.read.parquet(self.table_dir)
        self.table.inputFiles()

    def before_op(self) -> None:
        pass

    @staticmethod
    def _state_bytes(states) -> int:
        from pyspark.sql import functions as F

        return int(states.agg(F.sum(F.length("state"))).first()[0])


class FillDupFew(Workload):
    """Duplicate-heavy values, few groups: the Tungsten bucket-table fill."""

    name = "fill_dup_few"
    value_col = "text_len"
    group_cols = ("role", "tool")
    features = ("text_len", "turn_idx", "v_us")

    def oracle(self) -> None:
        self.input_rows = self.cols["role"].size
        keys, codes = group_codes(self.cols, self.group_cols)
        self.oracles = {f: Oracle(keys, codes, self.cols[f].astype(np.float64))
                        for f in self.features}

    def state_pass(self) -> None:
        """Merged-state bytes of every sketch the op builds: the text_len
        fill of udds_quantiles, then one per feature of udds_quantiles_multi
        (whose text_len states equal the first)."""
        from puddsketch_spark.spark.agg import sketch_grouped_jvm

        per = {f: self._state_bytes(sketch_grouped_jvm(self.table, f, list(self.group_cols),
                                                       ALPHA, M))
               for f in self.features}
        self.state_bytes = per["text_len"] + sum(per.values())

    def op(self, tr):
        from puddsketch_spark.spark.agg import udds_quantiles, udds_quantiles_multi

        gc = list(self.group_cols)
        with tr.span("api.udds_quantiles"):
            df1 = udds_quantiles(self.table, "text_len", gc, qs=QS_DENSE)
        rows1 = tr.collect(df1, "collect.udds_quantiles")
        with tr.span("api.udds_quantiles_multi"):
            df2 = udds_quantiles_multi(self.table, list(self.features), gc, qs=QS_DENSE)
        rows2 = tr.collect(df2, "collect.udds_quantiles_multi")
        check = Check()
        with tr.span("check"):
            check_quantile_rows(check, self.oracles["text_len"], rows1, gc, "udds", qs=QS_DENSE)
            for f in self.features:
                check_quantile_rows(check, self.oracles[f], rows2, gc, "udds", feature=f,
                                    qs=QS_DENSE)
        return self.input_rows, self.state_bytes, len(rows1) + len(rows2), check


def conv_ids(conv: np.ndarray) -> np.ndarray:
    return np.array([f"c{g:08d}" for g in conv], dtype=object)


class FillUniqueMany(Workload):
    """Near-unique values, ~4k groups: Arrow partials, kernels and the
    keyed blob merge."""

    name = "fill_unique_many"
    value_col = "v_us"
    group_cols = ("shard",)

    def oracle(self) -> None:
        c = self.cols
        self.input_rows = c["role"].size
        keys, codes = group_codes(c, self.group_cols)
        self.oracle_v = Oracle(keys, codes, c["v_us"])
        n_conv = int(c["conv"].max()) + 1
        pair = c["role"] * n_conv + c["conv"]
        self.role_index = {r: i for i, r in enumerate(ROLES)}
        self.distinct = np.bincount(np.unique(pair) // n_conv, minlength=len(ROLES))
        self.role_total = np.bincount(c["role"], minlength=len(ROLES))
        probe = np.arange(min(CMS_PROBES, n_conv))
        self.cms_probe = conv_ids(probe)
        self.cms_true = np.stack([
            np.bincount(c["conv"][c["role"] == r], minlength=n_conv)[probe]
            for r in range(len(ROLES))])

    def state_pass(self) -> None:
        """Merged-state bytes of the quantile sketches the op builds, via
        the state-returning fills with the same kernels and parameters."""
        from puddsketch_spark.core import KLLSketch, TDigest
        from puddsketch_spark.spark.agg import sketch_grouped, sketch_grouped_jvm

        gc = list(self.group_cols)
        total = self._state_bytes(sketch_grouped_jvm(self.table, "v_us", gc, ALPHA, M))
        for factory in (lambda: KLLSketch(k=KLL_K), lambda: TDigest(delta=TDIGEST_DELTA)):
            total += self._state_bytes(sketch_grouped(self.table, "v_us", gc, factory))
        self.state_bytes_base = total

    def op(self, tr):
        from puddsketch_spark.core import CountMinSketch
        from puddsketch_spark.spark.agg import udds_quantiles
        from puddsketch_spark.spark.sketches import (
            cms_states, hll_distinct, kll_quantiles, tdigest_quantiles)

        gc = list(self.group_cols)
        check = Check()
        out_rows = 0
        for kernel, api in (("udds", udds_quantiles), ("kll", kll_quantiles),
                            ("tdigest", tdigest_quantiles)):
            with tr.span(f"api.{api.__name__}"):
                df = api(self.table, "v_us", gc)
            rows = tr.collect(df, f"collect.{api.__name__}")
            out_rows += len(rows)
            with tr.span("check"):
                check_quantile_rows(check, self.oracle_v, rows, gc, kernel)
        with tr.span("api.hll_distinct"):
            df = hll_distinct(self.table, "conv_id", ["role"], p=HLL_P)
        rows = tr.collect(df, "collect.hll_distinct")
        out_rows += len(rows)
        with tr.span("check"):
            check.expect(len(rows) == len(ROLES), "hll groups")
            for r in rows:
                true = self.distinct[self.role_index[r["role"]]]
                rel = abs(r["est"] - true) / true
                check.add("hll", rel / (1.04 / math.sqrt(1 << HLL_P)), False, r["role"])
        with tr.span("api.cms_states"):
            df = cms_states(self.table, "conv_id", ["role"], depth=CMS_DEPTH, width=CMS_WIDTH)
        rows = tr.collect(df, "collect.cms_states")
        out_rows += len(rows)
        with tr.span("check"):
            check.expect(len(rows) == len(ROLES), "cms groups")
            cms_bytes = 0
            for r in rows:
                cms_bytes += len(r["state"])
                gi = self.role_index[r["role"]]
                sk = CountMinSketch.from_bytes(r["state"])
                over = sk.query(self.cms_probe) - self.cms_true[gi]
                check.expect(bool((over >= 0).all()), ("cms underestimate", r["role"]))
                check.add("cms", float(over.max()) / (sk.eps * self.role_total[gi]), False,
                          r["role"])
        # hll_distinct returns no states; an HLL state is one register byte
        # per bucket plus an 8-byte header
        state_bytes = self.state_bytes_base + cms_bytes + len(ROLES) * ((1 << HLL_P) + 8)
        return self.input_rows, state_bytes, out_rows, check


class IngestIncremental(Workload):
    """Checkpointed incremental fill: resume from a base checkpoint over F
    files after one new file lands, then merge and finalize."""

    name = "ingest_incremental"
    value_col = "v_us"
    group_cols = ("role", "tool")

    def generate(self) -> None:
        from puddsketch_spark.spark.checkpoint import checkpointed_sketch_grouped

        super().generate()
        n = self.cfg["files"]
        self.new_cols = generate_file(self.seed, n, self.cfg["n_conv"])
        self.new_src = os.path.join(self.work_dir, f"f{n:03d}.parquet")
        write_file(self.new_cols, self.new_src)
        self.new_dst = os.path.join(self.table_dir, os.path.basename(self.new_src))
        self.ckpt = os.path.join(self.work_dir, "ckpt")
        self.base_ckpt = os.path.join(self.work_dir, "ckpt_base")
        for d in (self.ckpt, self.base_ckpt):
            if os.path.exists(d):
                shutil.rmtree(d)
        checkpointed_sketch_grouped(self.spark, self.table, "v_us", list(self.group_cols),
                                    self.ckpt).collect()
        shutil.copytree(self.ckpt, self.base_ckpt)

    def oracle(self) -> None:
        self.input_rows = self.new_cols["role"].size
        both = concat([self.cols, self.new_cols])
        keys, codes = group_codes(both, self.group_cols)
        self.oracle_v = Oracle(keys, codes, both["v_us"])

    def state_pass(self) -> None:
        """Nothing to do: the op returns its merged states."""

    def before_op(self) -> None:
        """Restore the base table and checkpoint, so every op does the same
        work (outside the timer)."""
        if os.path.exists(self.new_dst):
            os.remove(self.new_dst)
        shutil.rmtree(self.ckpt)
        shutil.copytree(self.base_ckpt, self.ckpt)

    def op(self, tr):
        from puddsketch_spark.core import UDDSketch
        from puddsketch_spark.spark.checkpoint import checkpointed_sketch_grouped

        gc = list(self.group_cols)
        with tr.span("append"):
            shutil.copyfile(self.new_src, self.new_dst)
        with tr.span("api.checkpointed_sketch_grouped"):
            df = checkpointed_sketch_grouped(self.spark, self.spark.read.parquet(self.table_dir),
                                             "v_us", gc, self.ckpt)
        rows = tr.collect(df, "collect.checkpointed_sketch_grouped")
        with tr.span("finalize"):
            table = []
            for r in rows:
                sk = UDDSketch.from_bytes(r["state"])
                key = {g: r[g] for g in gc}
                table.extend({**key, "q": q, "est": sk.quantile(q)} for q in QS)
        check = Check()
        with tr.span("check"):
            check_quantile_rows(check, self.oracle_v, table, gc, "udds")
        state_bytes = sum(len(r["state"]) for r in rows)
        return self.input_rows, state_bytes, len(rows), check


WORKLOADS = {w.name: w for w in (FillDupFew, FillUniqueMany, IngestIncremental)}
