"""The encode pipeline: plan -> salt -> repartitionByRange -> mapInArrow
-> partitioned blob write -> atomic promote -> lineage checkpoint.

Engine analog of eggo's toast pipeline (datasets/dbsnp/toast.sh; SURVEY.md
§3.2): what eggo runs as five OS processes (ingest, vcf2adam, flatten,
Hive DISTRIBUTE BY locus-partition insert, distcp publish) is one Spark
DAG here. The DISTRIBUTE BY derived-key shuffle (toast.sh:53) becomes
repartitionByRange on (source, salt); the spec's sample-hash
sub-partitioning for skew (docs/spec.md:99-101) becomes explicit salting
sized from a groupBy pre-pass; the per-stage Parquet materialization
becomes the lineage checkpoint table (resume without re-encoding).
"""

from __future__ import annotations

import math
import time
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from eggopress import conf, generic, lineage as lineagelib
from eggopress.schema import (
    CHUNK_ARROW_SCHEMA, CHUNK_SCHEMA, CORPUS_ARROW_SCHEMA, CORPUS_KINDS,
)
from eggopress.tablefmt import Table


def _sort_keys(cluster: bool) -> list:
    """In-partition sort keys ahead of chunking.

    cluster=True — content clustering: docs sort by a cheap content
    signature (first token, then length) so similar docs land in the same
    chunk — dict/RLE/FOR locality is worth ~11% encoded size on the
    synthetic mix (60.0 MB vs 67.4 MB at the 60k-doc bench) at no extra
    shuffle; doc_id last keeps the order (and therefore chunking + codec
    choice) deterministic. Trade-offs: (a) chunk n_tok min/max stats
    widen, so n_tok-predicate chunk skipping prunes less than a pure-
    n_tok sort would; (b) the comparator costs encode throughput
    (measured r2->r3: suite encode 2.99M -> 2.20M tok/s at 60k docs) —
    both arms are published side by side in the bench
    (corpus_encode vs corpus_encode_nocluster). The 100 TB default
    favors the always-on ratio win: encode cost is paid once, the size
    win is paid on every scan/transfer forever after. Measured
    alternatives (200k-doc bench, identical input): deeper prefixes
    (tokens[0..1], tokens[0..2]) and full lexicographic token-array sort
    all encode 3-6% LARGER (they scramble the n_tok sub-sort that the
    length stream's FOR codec rides on) and the full-array comparator
    costs ~30% throughput.

    cluster=False — arrival clustering only: sort by doc_id within the
    partition keys. Still fully deterministic; maximum encode throughput.
    """
    if cluster:
        return ["source", "salt", F.expr("tokens[0]"), "n_tok", "doc_id"]
    return ["source", "salt", "doc_id"]


def plan_salts(source_counts: dict[str, int], n_partitions: int) -> dict[str, int]:
    """Salt count per source, proportional to its row share (min 1).

    This is the skew policy: a source holding 70% of rows gets ~70% of the
    partitions, so no single reducer owns the hot source.
    """
    total = sum(source_counts.values()) or 1
    # floor(x + 0.5), not Python round(): banker's rounding would diverge
    # from the documented (and oracle-pinned) half-up policy on .5 ties
    return {
        s: max(1, int(math.floor(n_partitions * c / total + 0.5)))
        for s, c in sorted(source_counts.items())
    }


def partition_ids(salts: dict[str, int]) -> list[str]:
    return [f"source={s}/salt={k}" for s, n in sorted(salts.items()) for k in range(n)]


def _salt_expr(salts: dict[str, int]):
    mapping = F.create_map(*[F.lit(x) for kv in salts.items() for x in kv])
    n = mapping[F.col("source")]
    # a source absent from the plan would otherwise become a NULL salt and
    # die deep in the Arrow worker as 'cannot convert float NaN to integer'
    return (
        F.when(
            n.isNull(),
            F.raise_error(
                F.concat(F.lit("encode: source missing from salt plan: "), F.col("source"))
            ).cast("int"),
        )
        .otherwise(F.pmod(F.xxhash64("doc_id"), n))
        .cast("int")
    )


def _encode_chunk(batch: pa.RecordBatch, partition_id: str, source: str,
                  salt: int, chunk_id: int) -> dict:
    """One corpus batch (all rows of one partition) -> one chunk row, every
    column through generic's column kernel. tokens keeps only its values
    blob, so its list lengths must BE n_tok: decode re-nests by n_tok."""
    streams = {c: generic._encode_column(c, CORPUS_KINDS[c], batch.column(c))
               for c in ("doc_id", "source", "n_tok")}
    tokens = batch.column("tokens")
    lengths, blob, raw, codec = generic._encode_list(
        "tokens", CORPUS_KINDS["tokens"], tokens)
    n_tok = batch.column("n_tok").to_numpy(zero_copy_only=False)
    if not np.array_equal(lengths, n_tok):
        raise ValueError(
            f"encode: n_tok disagrees with the tokens list lengths in "
            f"partition {partition_id} chunk {chunk_id}")
    streams["tokens"] = (blob, raw, codec)
    values = tokens.flatten().to_numpy(zero_copy_only=False)
    row = {
        "source": source,
        "salt": salt,
        "partition_id": partition_id,
        "chunk_id": chunk_id,
        "n_rows": batch.num_rows,
        "n_values": len(values),
        "raw_bytes": sum(r for _, r, _ in streams.values()),
        "encoded_bytes": sum(len(b) for b, _, _ in streams.values()),
        # chunk-skipping stats: a predicate decode prunes chunks whose
        # [min, max] window misses the predicate (SURVEY.md §4)
        "n_tok_min": int(n_tok.min()) if len(n_tok) else 0,
        "n_tok_max": int(n_tok.max()) if len(n_tok) else 0,
        "tok_min": int(values.min()) if len(values) else 0,
        "tok_max": int(values.max()) if len(values) else 0,
    }
    for c, (blob, _, codec) in streams.items():
        row[f"{c}_blob"] = blob
        row[f"{c}_bytes"] = len(blob)
        row[f"{c}_codec"] = codec
    return row


def _encode_fn(fail_partitions: frozenset[str],
               fail_until_attempt: dict[str, int] | None = None,
               attempts: dict[str, int] | None = None,
               chunk_base: int = 0, task_shift: int = 32):
    """mapInArrow worker: split each sorted batch at (source,salt) group
    boundaries, encode each slice as one chunk.

    fail_partitions always fail (resume tests); fail_until_attempt[pid]=k
    fails while the current attempt number is <= k (auto-retry tests).
    chunk_base/task_shift namespace chunk ids per append batch (see
    _append_chunk_base) so ids from different streaming batches landing
    in the same partition never collide; batch encodes keep base 0 /
    shift 32 (their chunk set is replaced wholesale, so
    (task_id << 32) | seq is already unique). Narrow shifts get explicit
    overflow guards: a silent wrap would alias another task's ids and
    corrupt the (partition_id, chunk_id, column) manifest key.
    """
    fail_until_attempt = fail_until_attempt or {}
    attempts = attempts or {}

    def fn(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        task_id = tc.partitionId() if tc else 0
        seq = 0
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            src = np.asarray(batch.column("source").to_numpy(zero_copy_only=False))
            salt = batch.column("salt").to_numpy(zero_copy_only=False)
            key_change = np.flatnonzero(
                (src[1:] != src[:-1]) | (salt[1:] != salt[:-1])
            ) + 1
            starts = np.concatenate(([0], key_change, [n]))
            corpus_cols = [batch.column(c) for c in ("doc_id", "tokens", "n_tok", "source")]
            corpus_batch = pa.RecordBatch.from_arrays(
                [c.cast(f.type) for c, f in zip(corpus_cols, CORPUS_ARROW_SCHEMA)],
                schema=CORPUS_ARROW_SCHEMA,
            )
            rows = []
            for i in range(len(starts) - 1):
                s, e = int(starts[i]), int(starts[i + 1])
                source, k = str(src[s]), int(salt[s])
                pid = f"source={source}/salt={k}"
                if pid in fail_partitions:
                    raise RuntimeError(f"injected failure for {pid}")
                if attempts.get(pid, 0) + 1 <= fail_until_attempt.get(pid, 0):
                    raise RuntimeError(f"injected transient failure for {pid}")
                if task_shift < 32 and (seq >= (1 << task_shift)
                                        or task_id >= (1 << task_shift)):
                    raise RuntimeError(
                        f"chunk id field overflow (task={task_id}, seq={seq}, "
                        f"shift={task_shift}); widen the append id layout"
                    )
                rows.append(
                    _encode_chunk(
                        corpus_batch.slice(s, e - s),
                        pid,
                        source,
                        k,
                        chunk_base | (task_id << task_shift) | seq,
                    )
                )
                seq += 1
            yield pa.RecordBatch.from_pylist(rows, schema=CHUNK_ARROW_SCHEMA)

    return fn


# per-column-chunk manifest rows derived from staged chunk rows (blob
# columns never referenced -> the parquet scan prunes them)
_MANIFEST_STACK = [
    "partition_id", "chunk_id",
    "stack(4, 'doc_id', doc_id_codec, doc_id_bytes, "
    "'source', source_codec, source_bytes, "
    "'n_tok', n_tok_codec, n_tok_bytes, "
    "'tokens', tokens_codec, tokens_bytes) as (column, codec, encoded_bytes)",
    "n_rows", "n_values", "raw_bytes",
    "n_tok_min", "n_tok_max", "tok_min", "tok_max",
]


def _chunk_stats(staged: DataFrame) -> list:
    """Per-partition rollup of staged chunk rows (stats columns only)."""
    return (
        staged.groupBy("partition_id")
        .agg(
            F.count("*").alias("chunks"),
            F.sum("n_rows").alias("rows"),
            F.sum("n_values").alias("values"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("encoded_bytes").alias("enc"),
            F.concat_ws(
                ",", F.array_distinct(F.collect_list("tokens_codec"))
            ).alias("codecs"),
        )
        .collect()
    )


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    *,
    n_partitions: int | None = None,
    run_id: str | None = None,
    resume: bool = False,
    waves: int = 1,
    retries: int = 0,
    fail_partitions: frozenset[str] | tuple[str, ...] = (),
    fail_until_attempt: dict[str, int] | None = None,
    salts: dict[str, int] | None = None,
    cluster: bool = True,
) -> dict:
    """Encode a corpus DataFrame into an eggopress table. Returns a summary.

    resume=True skips partitions whose lineage rows say encode=done
    (the anti-join resume of SURVEY.md V2). A fresh (non-resume) encode
    first clears data/manifest/lineage: partitions from a previous plan
    must not survive into the new table or decode would return
    phantom/duplicate rows. retries=N re-runs a failed wave up to N times
    (driver-level auto-retry, SURVEY.md V3 — the eggo sleep_progressive
    analog, eggo/util.py:50-59), recording each failure in lineage.

    cluster=True (default) content-clusters docs within each partition
    before chunking — better ratio at some encode-throughput cost (the
    measured trade lives in _sort_keys below and both arms are published
    in the bench); cluster=False is the opt-out for throughput-bound
    deployments. Decode output is identical either way (chunk boundaries
    move, rows don't).
    """
    tbl = Table(table_path)
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    phases: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.time()
        phases[name] = round(phases.get(name, 0.0) + (now - _last[0]), 3)
        _last[0] = now
    if not resume:
        # non-destructive: demote the snapshot, move the previous table's
        # data/manifest/lineage ASIDE (not delete) — if this encode dies,
        # the old contents are still recoverable; they are purged only
        # after the final 'encoded' snapshot commits below
        tbl.retire_state(run_id)

    snap = tbl.snapshot()
    if resume and snap and "salts" in snap:
        salts = {k: int(v) for k, v in snap["salts"].items()}
    elif salts is not None:
        # caller-provided plan (e.g. reused across the two scaling runs)
        tbl.commit_snapshot({"stage": "planned", "salts": salts,
                             "run_id": run_id, "schema": "corpus_v1"})
    else:
        rows_ = df.groupBy("source").agg(
            F.count("*").alias("cnt"), F.sum("n_tok").alias("vals")).collect()
        counts = {r["source"]: r["cnt"] for r in rows_}
        if n_partitions is None:
            # default sizing: scale with cores, but never shred a small
            # input into sub-chunk partitions (per-chunk overhead would eat
            # the ratio). Corpus rows are HEAVY (hundreds of tokens), so
            # the floor is value-based as well as row-based: a row-only
            # floor sized this bench's 60k-doc / 35M-token corpus at 8
            # partitions, leaving 3/4 of the cores idle through the whole
            # encode stage (optimization guide §2: derive partitioning
            # from input size). ~2M token values per partition keeps every
            # chunk big enough that the measured ratio cost is <1%
            # (37.07 -> 37.38 MB on the bench corpus) while the encode
            # stage parallelizes ~2x better.
            total_rows = sum(counts.values())
            total_vals = sum(int(r["vals"] or 0) for r in rows_)
            n_partitions = min(
                conf.encode_partitions(conf.local_cores()),
                max(1, total_rows // conf.chunk_rows_default() + 1,
                    total_vals // conf.values_per_partition() + 1),
            )
        salts = plan_salts(counts, n_partitions)
        tbl.commit_snapshot({"stage": "planned", "salts": salts,
                             "run_id": run_id, "schema": "corpus_v1"})

    _mark("plan")
    all_pids = partition_ids(salts)
    done = set(lineagelib.done_partitions(spark, tbl)) if resume else set()
    todo = [p for p in all_pids if p not in done]
    if not todo:
        return {"run_id": run_id, "partitions": 0, "skipped": len(done),
                "wall_s": 0.0, "encoded_bytes": 0}

    salted = df.withColumn("salt", _salt_expr(salts))
    if done:
        done_pairs = [(p.split("/")[0][7:], int(p.split("salt=")[1])) for p in done]
        cond = F.concat(F.col("source"), F.lit("|"), F.col("salt").cast("string"))
        done_keys = [f"{s}|{k}" for s, k in done_pairs]
        salted = salted.filter(~cond.isin(done_keys))

    wave_groups = np.array_split(np.array(todo), max(1, waves))
    total_chunks = total_rows = total_values = total_raw = total_enc = 0
    attempts = lineagelib.attempt_counts(spark, tbl)

    for wave_idx, wave in enumerate(wave_groups):
        wave_pids = [str(p) for p in wave if p]
        if not wave_pids:
            continue
        wdf = salted
        if len(wave_groups) > 1:
            cond = F.concat(F.lit("source="), F.col("source"),
                            F.lit("/salt="), F.col("salt").cast("string"))
            wdf = salted.filter(cond.isin(wave_pids))

        n_shuffle = max(len(wave_pids), 1)
        arranged = wdf.repartitionByRange(n_shuffle, "source", "salt").sortWithinPartitions(
            *_sort_keys(cluster)
        )

        staging = tbl.staging_dir(run_id)
        for try_no in range(max(0, retries) + 1):
            enc = arranged.mapInArrow(
                _encode_fn(frozenset(fail_partitions), fail_until_attempt, dict(attempts)),
                CHUNK_SCHEMA,
            )
            try:
                (
                    enc.write.partitionBy("source", "salt")
                    .option("compression", conf.data_codec())
                    .mode("overwrite")
                    .parquet(staging)
                )
                _mark("encode_write")
                break
            except Exception as exc:
                # attribute the failure to the partition named in the task
                # error when parseable; otherwise to a wave marker — never
                # to every healthy partition in the wave (that over-reports
                # their attempt counts and misattributes the failure)
                import re as _re

                m = _re.search(r"source=[^/\s']+/salt=\d+", str(exc))
                failed_pids = [m.group(0)] if m and m.group(0) in wave_pids \
                    else [f"wave:{wave_idx}"]
                now_ms = int((time.time() - t0) * 1000)
                lineagelib.append(spark, tbl, [
                    (run_id, pid, "encode", "failed", attempts.get(pid, 0) + 1,
                     None, None, None, None, now_ms)
                    for pid in failed_pids
                ])
                for pid in failed_pids:
                    attempts[pid] = attempts.get(pid, 0) + 1
                if try_no >= max(0, retries):
                    raise

        # manifest + lineage from the staged (blob-free) stats
        staged = spark.read.parquet(staging)
        stats = _chunk_stats(staged)
        staged.selectExpr(*_MANIFEST_STACK).write.mode("append").parquet(tbl.manifest_dir)
        _mark("stats_manifest")

        promoted = tbl.promote_partitions(run_id)
        now = time.time()
        lineage_rows = []
        for r in stats:
            pid = r["partition_id"]
            total_chunks += r["chunks"]; total_rows += r["rows"]
            total_values += r["values"]; total_raw += r["raw"]; total_enc += r["enc"]
            lineage_rows.append(
                (run_id, pid, "encode",
                 "done" if pid in set(promoted) else "staged",
                 attempts.get(pid, 0) + 1, r["codecs"],
                 int(r["raw"]), int(r["enc"]), int(r["rows"]),
                 int((now - t0) * 1000))
            )
        # planned-but-empty partitions still count as done (nothing to write)
        staged_pids = {r["partition_id"] for r in stats}
        for pid in wave_pids:
            if pid not in staged_pids:
                lineage_rows.append(
                    (run_id, pid, "encode", "done", attempts.get(pid, 0) + 1,
                     "", 0, 0, 0, int((now - t0) * 1000))
                )
        lineagelib.append(spark, tbl, lineage_rows)
        _mark("promote_lineage")

    final_version = tbl.commit_snapshot(
        {
            "stage": "encoded",
            "salts": salts,
            "run_id": run_id,
            "schema": "corpus_v1",
            "partitions": tbl.partition_dirs(),
            "files": tbl.partition_file_listing(),
            "manifest_files": tbl.manifest_file_listing(),
            "totals": {
                "chunks": int(total_chunks), "rows": int(total_rows),
                "values": int(total_values), "raw_bytes": int(total_raw),
                "encoded_bytes": int(total_enc),
            },
        }
    )
    # the replacing table is now the committed truth — only NOW is it safe
    # to drop the previous table's retired contents
    tbl.purge_retired()
    _mark("commit")
    return {
        "run_id": run_id,
        "phase_sec": phases,
        "snapshot_version": final_version,
        "partitions": len(todo),
        "skipped": len(done),
        "chunks": int(total_chunks),
        "rows": int(total_rows),
        "values": int(total_values),
        "raw_bytes": int(total_raw),
        "encoded_bytes": int(total_enc),
        "wall_s": time.time() - t0,
    }


def encode_append(spark: SparkSession, df: DataFrame, table_path: str, *,
                  run_id: str, n_partitions: int | None = None,
                  cluster: bool = True,
                  signatures: DataFrame | None = None) -> dict:
    """Append-encode one micro-batch into an existing (or new) table —
    the streaming-ingest sink (SURVEY.md-plus: continuous corpus
    ingestion). Unlike encode_table this neither retires previous state
    nor resumes: each batch stages its chunks and MERGE-promotes the
    files into the shared source=/salt= dirs, appends manifest rows, and
    records one lineage wave under the batch's run_id. Snapshot totals
    accumulate across batches, so snapshot-gated readers always see a
    consistent 'encoded' stage.

    Idempotence across Structured Streaming retries comes from the
    checkpointed batch id: the caller derives run_id from batch_id, and a
    batch whose lineage wave is already recorded is skipped wholesale.
    """
    tbl = Table(table_path)
    t0 = time.time()
    if _run_recorded(spark, tbl, run_id):
        return {"run_id": run_id, "partitions": 0, "skipped": 1, "rows": 0,
                "values": 0, "encoded_bytes": 0, "raw_bytes": 0, "chunks": 0,
                "wall_s": 0.0, "replayed": True}

    counts = {r["source"]: r["cnt"] for r in
              df.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    if not counts:
        return {"run_id": run_id, "partitions": 0, "skipped": 0, "rows": 0,
                "values": 0, "encoded_bytes": 0, "raw_bytes": 0, "chunks": 0,
                "wall_s": 0.0}
    total_rows_in = sum(counts.values())
    if n_partitions is None:
        n_partitions = min(
            conf.encode_partitions(conf.local_cores()),
            max(1, total_rows_in // conf.chunk_rows_default() + 1),
        )
    salts = plan_salts(counts, n_partitions)

    salted = df.withColumn("salt", _salt_expr(salts))
    arranged = salted.repartitionByRange(
        max(len(partition_ids(salts)), 1), "source", "salt"
    ).sortWithinPartitions(*_sort_keys(cluster))
    staging = tbl.staging_dir(run_id)
    chunk_base, task_shift = _append_chunk_base(run_id)
    (
        arranged.mapInArrow(
            _encode_fn(frozenset(), chunk_base=chunk_base, task_shift=task_shift),
            CHUNK_SCHEMA,
        )
        .write.partitionBy("source", "salt")
        .option("compression", conf.data_codec())
        .mode("overwrite")
        .parquet(staging)
    )
    staged = spark.read.parquet(staging)
    stats = _chunk_stats(staged)
    # idempotent manifest: one deterministic file per batch
    # (manifest/append-<run_id>.parquet, atomic os.replace), written
    # driver-side — an at-least-once redelivery overwrites instead of
    # appending a second copy of the stats. O(chunks x 4) rows per
    # micro-batch, bounded by the batch size.
    man_rows = sorted(
        staged.selectExpr(*_MANIFEST_STACK).collect(),
        key=lambda r: (r["partition_id"], r["chunk_id"], r["column"]),
    )
    _write_manifest_file(tbl, f"append-{run_id}", man_rows)
    # deterministic <run_id>-<i>.parquet names make the merge-promote
    # itself replay-safe (identical re-encode overwrites, never duplicates)
    tbl.promote_partitions(run_id, merge=True)

    # doc_id sidecar: one skinny parquet dir per batch, written BEFORE the
    # lineage wave so any batch the replay-skip can see also has its
    # sidecar. The streaming cross-batch dedup anti-joins later batches
    # against these O(batch) files instead of blob-decoding the whole
    # table per micro-batch (O(table) work per batch = quadratic
    # cumulative work over a stream's lifetime). mode=overwrite keeps a
    # redelivered batch idempotent.
    df.select("doc_id").write.mode("overwrite").parquet(
        tbl.docid_sidecar_dir(run_id))
    # near-dup signature sidecar (doc_id, simhash): the incremental
    # near-dup index. Written before lineage for the same replay-skip
    # coverage reason, overwrite for the same idempotency. The caller
    # computes the signatures (they need the raw text, which the corpus
    # frame no longer carries); this layer only persists and accounts
    # for them.
    if signatures is not None:
        signatures.select("doc_id", "simhash").write.mode(
            "overwrite").parquet(tbl.sig_sidecar_dir(run_id))

    now_ms = int((time.time() - t0) * 1000)
    lineagelib.append(spark, tbl, [
        (run_id, r["partition_id"], "encode", "done", 1, r["codecs"],
         int(r["raw"]), int(r["enc"]), int(r["rows"]), now_ms)
        for r in stats
    ])
    batch = {
        "chunks": sum(int(r["chunks"]) for r in stats),
        "rows": sum(int(r["rows"]) for r in stats),
        "values": sum(int(r["values"]) for r in stats),
        "raw_bytes": sum(int(r["raw"]) for r in stats),
        "encoded_bytes": sum(int(r["enc"]) for r in stats),
    }
    # snapshot totals recomputed from the duplicate-free manifest instead
    # of accumulated from the previous snapshot — correct under ANY retry
    # interleaving (a replayed batch can never double-count)
    man = spark.read.parquet(tbl.manifest_dir)
    tot = (
        man.filter(F.col("column") == "tokens")
        .agg(F.count("*").alias("chunks"), F.sum("n_rows").alias("rows"),
             F.sum("n_values").alias("values"), F.sum("raw_bytes").alias("raw"))
        .first()
    )
    enc_total = man.agg(F.sum("encoded_bytes")).first()[0]
    prev_snap = tbl.snapshot() or {}
    prev_runs = list(prev_snap.get("runs") or [])
    # coverage marker for the sidecar-based seen_doc_ids fast path: True
    # only when EVERY doc in the table arrived through a sidecar-writing
    # append — i.e. the table was born from appends (no prior snapshot)
    # and every committed snapshot since also carried the flag. A table
    # first built by encode_table (batch docs get no sidecars) never sets
    # it, so mixed-history tables degrade to the blob-decode path instead
    # of silently dropping the batch docs from the seen-set.
    sidecars_cover = (not prev_snap) or bool(
        prev_snap.get("sidecars_cover_table"))
    # same coverage logic for the signature index: True only while EVERY
    # append in the table's history wrote a signature sidecar
    sigs_cover = (signatures is not None) and (
        (not prev_snap) or bool(prev_snap.get("sigs_cover_table")))
    prev_sig_runs = list(prev_snap.get("sig_runs") or [])
    extra = {}
    if prev_snap.get("docid_merged"):
        # carry the merged-sidecar reference forward — dropping it would
        # orphan the merged dir and fail the seen-set coverage check
        extra["docid_merged"] = prev_snap["docid_merged"]
    if prev_snap.get("sig_merged"):
        extra["sig_merged"] = prev_snap["sig_merged"]
    if prev_snap.get("last_compaction"):
        extra["last_compaction"] = prev_snap["last_compaction"]
    tbl.commit_snapshot({
        **extra,
        "stage": "encoded",
        "mode": "append",
        "run_id": run_id,
        # cumulative append-run set: the O(1) replay fast path AND the
        # coverage proof the sidecar-based seen_doc_ids needs (every run
        # in this list has a doc_id sidecar dir)
        "runs": sorted(set(prev_runs) | {run_id}),
        "sidecars_cover_table": sidecars_cover,
        "sig_runs": sorted(set(prev_sig_runs) | {run_id})
        if signatures is not None else prev_sig_runs,
        "sigs_cover_table": sigs_cover,
        "schema": "corpus_v1",
        "partitions": tbl.partition_dirs(),
        "files": tbl.partition_file_listing(),
        "manifest_files": tbl.manifest_file_listing(),
        "totals": {
            "chunks": int(tot["chunks"]), "rows": int(tot["rows"]),
            "values": int(tot["values"]), "raw_bytes": int(tot["raw"]),
            "encoded_bytes": int(enc_total),
        },
    })
    return {"run_id": run_id, "partitions": len(stats), "skipped": 0,
            "wall_s": time.time() - t0, **batch}


def _write_manifest_file(tbl: Table, name: str, rows: list) -> None:
    """One manifest parquet file with a caller-chosen (deterministic) name,
    written driver-side and swapped in atomically."""
    import os as _os

    import pyarrow.parquet as pq

    from eggopress.schema import MANIFEST_SCHEMA

    types = [pa.string(), pa.int64(), pa.string(), pa.string(), pa.int32(),
             pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.int32(),
             pa.int32(), pa.int32()]
    names = [f.name for f in MANIFEST_SCHEMA.fields]
    # collected Rows carry stack() column order; re-map by field name
    cols = {n: [r[n] for r in rows] for n in names}
    table = pa.table({n: pa.array(cols[n], type=t) for n, t in zip(names, types)})
    _os.makedirs(tbl.manifest_dir, exist_ok=True)
    final = _os.path.join(tbl.manifest_dir, f"{name}.parquet")
    # tmp lives OUTSIDE the manifest dir: a crash must never leave a
    # half-written file where spark.read.parquet(manifest_dir) would trip
    tmp = _os.path.join(tbl.path, f"_manifest_tmp_{name}.parquet")
    pq.write_table(table, tmp)
    _os.replace(tmp, final)


def _append_chunk_base(run_id: str) -> tuple[int, int]:
    """(chunk_base, task_shift) namespacing one append batch's chunk ids.

    Streaming run_ids ('stream-<batch_id>') use the batch id itself —
    monotonic and collision-free — as the namespace: bit 62 marks the
    append layout, bits 30-61 carry the batch id, leaving 15-bit task and
    seq fields (guarded in _encode_fn). The previous scheme packed a
    15-bit md5(run_id) hash, which by the birthday bound collides between
    two batches with ~50% probability after ~180 batches — and colliding
    batches sharing a partition could then alias chunk_ids and silently
    weaken the (partition_id, chunk_id, column) manifest key. Non-stream
    run_ids (ad-hoc appends, bounded in count) keep the hash namespace.
    """
    import re as _re

    m = _re.fullmatch(r"stream-(\d+)", run_id)
    if m:
        batch_no = int(m.group(1)) & 0xFFFFFFFF
        return (1 << 62) | (batch_no << 30), 15
    import hashlib as _hashlib

    ns = int(_hashlib.md5(run_id.encode()).hexdigest()[:4], 16) & 0x3FFF
    return ns << 48, 32


def _run_recorded(spark: SparkSession, tbl: Table, run_id: str) -> bool:
    """Has this append run already committed (the exactly-once replay
    check)? Fast path: the snapshot's cumulative run set — O(1), no Spark
    job, no growth with stream lifetime. Slow path (run absent from the
    snapshot): the lineage table, filtered to this run_id — covers the
    crash window where the lineage wave landed but the snapshot commit
    didn't. The previous implementation collected ALL distinct lineage
    run_ids every batch, an O(stream lifetime) scan per micro-batch."""
    if run_id in ((tbl.snapshot() or {}).get("runs") or []):
        return True
    import os as _os

    if not (_os.path.isdir(tbl.lineage_dir)
            and any(f.endswith(".parquet") for f in _os.listdir(tbl.lineage_dir))):
        return False
    return bool(
        lineagelib.read(spark, tbl)
        .filter(F.col("run_id") == run_id).limit(1).count()
    )


