"""The two workloads: seeded inputs, a cycle of checked operations, metrics.

A workload object is built once per run. `make_inputs` writes the seeded
inputs under the run's work directory and records the expected answers
(digests of the inputs, or the duckdb oracles); `bind` (re)attaches the
inputs to the current Spark session; `warm_up` and `cycle` run operations
through `Run.op`, which times each call, checks its output and counts
failures. `tail_samples` and `before_traced` add work to traced runs only.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import codec_rung, harness, inputs


class Corpus:
    """corpus_round_trip: encode_table, then full / projected / token-range
    decodes of the table that encode just wrote; doc-id point lookups in
    traced runs."""

    name = "corpus_round_trip"
    write_kind, read_kind, scan_kinds = "encode", "decode", ("projected", "predicate")
    generic_table = False
    n_docs = 12_000  # ~7M tokens: mid-way between encode_table's 2M-token partition steps
    lookup_batch = 24  # traced runs: the 14th of 24 lookups has 10 beyond it
    token_range = (1_500_000_000, 1_520_000_000)

    def make_inputs(self, spark, work: str, seed: int) -> None:
        from eggopress import verify

        self.src = os.path.join(work, "corpus_in")
        self.table = os.path.join(work, "corpus_tbl")
        inputs.corpus_df(spark, self.n_docs, seed).repartition(8) \
            .write.mode("overwrite").parquet(self.src)
        df = spark.read.parquet(self.src)
        lo, hi = self.token_range
        want = harness.digests(df, {
            "full": (df.columns, None),
            "proj": (["n_tok", "source"], None),
            "pred": (df.columns, F.expr(f"exists(tokens, t -> t >= {lo} and t <= {hi})")),
        })
        self.want_full, self.want_proj, self.want_pred = want["full"], want["proj"], want["pred"]
        self.tokens = int(df.agg(F.sum("n_tok")).collect()[0][0])
        self.ref_bytes = verify.parquet_reference_bytes(df, os.path.join(work, "ref"))
        self.seed = seed

    def bind(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.src)

    def warm_up(self, run: "Run") -> None:
        """An encode, then one cycle: encode and decode times settle only
        from their third call in a process."""
        from eggopress import encode

        run.op("encode", self.n_docs, "encode.encode_table",
               lambda: encode.encode_table(self.spark, self.df, self.table),
               lambda r: r["rows"] == self.n_docs and r["values"] == self.tokens)
        self.cycle(run)

    def tail_samples(self, run: "Run") -> None:
        """Traced runs only: index the table the last cycle wrote, then
        enough point lookups for a tail. The lookup ids come with their
        row hashes from one pass over a seeded ~1% sample of the input."""
        from eggopress import decode

        run.op("index", self.n_docs, "decode.build_doc_index",
               lambda: decode.build_doc_index(self.spark, self.table),
               lambda r: "built_at_version" in r)
        pool = harness.row_hashes(
            self.df.filter(F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(97)) == 0),
            "doc_id")
        self.pool = sorted(pool.items())
        self.rng = np.random.default_rng([self.seed, 3])
        self.lookups(run, 1, kind="lookup_warm")  # the first lookup pays one-off costs
        self.lookups(run, self.lookup_batch)

    def before_traced(self, run: "Run") -> None:
        """A few traced lookups, for their event-log counts."""
        self.lookups(run, 3)

    def cycle(self, run: "Run") -> None:
        from eggopress import decode, encode

        s = self.spark
        out = run.op("encode", self.n_docs, "encode.encode_table",
                     lambda: encode.encode_table(s, self.df, self.table),
                     lambda r: r["rows"] == self.n_docs and r["values"] == self.tokens)
        if out is not None:
            run.encode_phases.append(out["phase_sec"])
            run.partitions = out["partitions"]
        tbl = self.table
        run.op("decode", self.n_docs, "decode.decode_table:full",
               lambda: harness.digest(decode.decode_table(s, tbl)),
               lambda d: d == self.want_full)
        run.op("projected", self.n_docs, "decode.decode_table:projected",
               lambda: harness.digest(decode.decode_table(s, tbl, columns=["n_tok", "source"])),
               lambda d: d == self.want_proj)
        run.op("predicate", self.n_docs, "decode.decode_table:token_range",
               lambda: harness.digest(decode.decode_table(s, tbl, token_range=self.token_range)),
               lambda d: d == self.want_pred)

    def lookups(self, run: "Run", n: int, kind: str = "lookup") -> None:
        from eggopress import decode

        s, tbl = self.spark, self.table
        for _ in range(n):
            doc_id, h = self.pool[int(self.rng.integers(0, len(self.pool)))]
            run.op(kind, 1, "decode.lookup_docs",
                   lambda: harness.row_hashes(decode.lookup_docs(s, tbl, [doc_id]), "doc_id"),
                   lambda got: got == {doc_id: h})

    def op_metrics(self, ops: dict) -> dict:
        p, tail = harness.tail([o["s"] for o in ops.get("lookup", [])] or [0.0])
        return {
            "op.encode_tokens_per_s": per_s(ops, "encode") * self.tokens / self.n_docs,
            "op.decode_tokens_per_s": per_s(ops, "decode") * self.tokens / self.n_docs,
            "op.projected_scan_s": median(ops, "projected"),
            "op.predicate_scan_s": median(ops, "predicate"),
            "op.lookup_p50_s": median(ops, "lookup"),
            "op.lookup_tail_s": tail,
            "op.lookup_tail_pct": p,
            "op.lookups": float(len(ops.get("lookup", []))),
        }

    def rung_blobs(self):
        """The chunk blobs the encode wrote; the encoder saw tokens as int32."""
        return codec_rung.chunk_blobs(self.table, {"tokens_blob": np.int32})


class Lineitem:
    """encode_generic clustered on (l_shipdate, l_orderkey), a full
    decode_generic and a where=/columns= pruned one."""

    cluster_by = ("l_shipdate", "l_orderkey")
    reads = 4  # samples of each read per cycle: calls differ by 10-30%
    pruned_cols = ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"]

    def make_inputs(self, spark, work: str, seed: int) -> None:
        from eggopress import verify

        self.src = os.path.join(work, "lineitem_in.parquet")
        self.table = os.path.join(work, "lineitem_tbl")
        tbl = inputs.lineitem(seed)
        self.n_rows = tbl.num_rows
        pq.write_table(tbl, self.src, row_group_size=75_000)
        df = spark.read.parquet(self.src)
        # a seeded ~3% window of ship dates, as epoch microseconds
        ts = tbl.column("l_shipdate").cast(pa.int64()).to_numpy()
        lo_all, hi_all = int(ts.min()), int(ts.max())
        rng = np.random.default_rng([seed, 4])
        width = (hi_all - lo_all) // 32
        lo = lo_all + int(rng.integers(0, hi_all - lo_all - width))
        self.where = {"l_shipdate": (lo, lo + width)}
        lo_ts, hi_ts = (str(np.datetime64(t, "us")).replace("T", " ") for t in (lo, lo + width))
        want = harness.digests(df, {
            "full": (df.columns, None),
            "pruned": (self.pruned_cols, F.expr(
                f"l_shipdate BETWEEN TIMESTAMP_NTZ '{lo_ts}' AND TIMESTAMP_NTZ '{hi_ts}'")),
        })
        self.want_full, self.want_pruned = want["full"], want["pruned"]
        self.ref_bytes = verify.parquet_reference_bytes(df, os.path.join(work, "ref"))

    def bind(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.src)

    def cycle(self, run: "Run") -> None:
        from eggopress import generic

        s, tbl = self.spark, self.table
        run.op("encode", self.n_rows, "generic.encode_generic",
               lambda: generic.encode_generic(s, self.df, tbl, cluster_by=self.cluster_by),
               lambda r: r["rows"] == self.n_rows)
        for _ in range(self.reads):
            run.op("decode", self.n_rows, "generic.decode_generic:full",
                   lambda: harness.digest(generic.decode_generic(s, tbl)),
                   lambda d: d == self.want_full)
            run.op("pruned", self.n_rows, "generic.decode_generic:pruned",
                   lambda: harness.digest(generic.decode_generic(
                       s, tbl, columns=self.pruned_cols, where=self.where)),
                   lambda d: d == self.want_pruned)

    def op_metrics(self, ops: dict) -> dict:
        return {
            "op.encode_rows_per_s": per_s(ops, "encode"),
            "op.decode_rows_per_s": per_s(ops, "decode"),
            "op.pruned_scan_s": median(ops, "pruned"),
        }

    def rung_blobs(self):
        return codec_rung.chunk_blobs(self.table, {})


class Dedup:
    """ngram_jaccard_pairs(0.6) and minhash_lsh_pairs over a documents
    table, each pair set checked against its duckdb oracle."""

    threshold = 0.6

    def make_inputs(self, spark, work: str, seed: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        self.src = os.path.join(work, "documents.parquet")
        docs = inputs.documents(seed)
        self.n_docs = docs.num_rows
        pq.write_table(docs, self.src)
        # the duckdb oracles run beside the Spark set-up and warm-up work;
        # the first check of a dedup output waits for them
        pool = ThreadPoolExecutor(1)
        self._oracles = pool.submit(self._run_oracles, docs)
        pool.shutdown(wait=False)

    def _run_oracles(self, docs: pa.Table) -> tuple[set, set]:
        import duckdb

        from eggopress.pipeline import dedup

        with duckdb.connect() as con:
            con.register("documents", docs)
            jacc = {(a, b, f"{j:.6f}") for a, b, j in
                    con.sql(dedup.ngram_jaccard_oracle(self.threshold)).fetchall()}
            return jacc, set(con.sql(dedup.minhash_lsh_oracle()).fetchall())

    def bind(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.src)

    def cycle(self, run: "Run") -> None:
        from eggopress.pipeline import dedup

        run.op("jaccard", self.n_docs, "pipeline.dedup.ngram_jaccard_pairs",
               lambda: {(r[0], r[1], f"{r[2]:.6f}") for r in
                        dedup.ngram_jaccard_pairs(self.df, self.threshold)
                        .select("id_a", "id_b", "jaccard").collect()},
               lambda got: got == self._oracles.result()[0])
        run.op("minhash", self.n_docs, "pipeline.dedup.minhash_lsh_pairs",
               lambda: {(r[0], r[1]) for r in dedup.minhash_lsh_pairs(self.df).collect()},
               lambda got: got == self._oracles.result()[1])
        run.pairs_out = sum(map(len, self._oracles.result()))

    def op_metrics(self, ops: dict) -> dict:
        return {
            "op.jaccard_s": median(ops, "jaccard"),
            "op.minhash_s": median(ops, "minhash"),
        }


class LineitemDedup:
    """lineitem_dedup: the generic-schema path on a TPC-H-shaped lineitem
    table, then the two dedup joins on a documents table. The dedup half
    runs no codec and no table format."""

    name = "lineitem_dedup"
    write_kind, read_kind, scan_kinds = "encode", "decode", ("pruned",)
    generic_table = True

    def __init__(self):
        self.lineitem, self.dedup = Lineitem(), Dedup()

    def make_inputs(self, spark, work: str, seed: int) -> None:
        self.dedup.make_inputs(spark, work, seed)
        self.lineitem.make_inputs(spark, work, seed)
        self.table, self.ref_bytes = self.lineitem.table, self.lineitem.ref_bytes

    def bind(self, spark) -> None:
        self.lineitem.bind(spark)
        self.dedup.bind(spark)

    def warm_up(self, run: "Run") -> None:
        self.cycle(run)

    def before_traced(self, run: "Run") -> None:
        pass

    def tail_samples(self, run: "Run") -> None:
        pass

    def cycle(self, run: "Run") -> None:
        self.lineitem.cycle(run)
        self.dedup.cycle(run)

    def op_metrics(self, ops: dict) -> dict:
        return {**self.lineitem.op_metrics(ops), **self.dedup.op_metrics(ops)}

    def rung_blobs(self):
        return self.lineitem.rung_blobs()


WORKLOADS = {w.name: w for w in (Corpus, LineitemDedup)}


# ------------------------------------------------------------ run loop

class Run:
    """Times and checks operations; one Run per measured window."""

    def __init__(self, tracer: harness.Tracer):
        self.tracer = tracer
        self.ops: dict[str, list[dict]] = {}
        self.cycles: list[float] = []
        self.attempted = self.failed = 0
        self.encode_phases: list[dict] = []
        self.partitions = 0
        self.pairs_out = 0

    def op(self, kind: str, rows: int, layer: str, fn, check):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer):
                out = fn()
            ok = bool(check(out))
        except Exception:  # a call that raises is a failed operation; keep going
            traceback.print_exc()
            out, ok = None, False
        dt = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"perfbench: {kind} output is wrong", file=sys.stderr)
        self.ops.setdefault(kind, []).append({"s": dt, "rows": rows, "ok": ok})
        return out

    def loop(self, workload, seconds: float) -> None:
        """Closed loop, one client: whole cycles, at least one, while the
        next cycle is expected to end within `seconds`."""
        end = time.perf_counter() + seconds
        while True:
            t0 = time.perf_counter()
            with self.tracer.span("bench.cycle"):
                workload.cycle(self)
            self.cycles.append(time.perf_counter() - t0)
            if time.perf_counter() + self.cycles[-1] > end:
                break


def per_s(ops: dict, kind: str) -> float:
    """Rows per second of the median operation of this kind."""
    xs = ops.get(kind, [])
    return xs[0]["rows"] / median(ops, kind) if xs else 0.0


def median(ops: dict, kind: str) -> float:
    xs = [o["s"] for o in ops.get(kind, [])]
    return statistics.median(xs) if xs else 0.0

