"""The per-layer ladder of a traced run.

Layers are eggopress modules: conf, codecs, encode, decode, tablefmt,
generic and pipeline.dedup. Numbers come from four places, all outside
the engine: the spans the benchmark records around its calls, the Spark
event log (stages attributed to spans by job group), the summaries the
engine's public functions return, and the driver-side codec rung.
"""

from __future__ import annotations

import os
import statistics

from perfbench import harness
from perfbench.workloads import median

_GROUP_KEYS = ("jobs", "tasks", "input_bytes", "input_records", "shuffle_read_bytes",
               "shuffle_write_bytes", "executor_cpu_s", "gc_s", "spill_bytes", "python_bytes")
_LAYERS = ("conf", "codecs", "encode", "decode", "tablefmt", "generic",
           "pipeline.dedup", "bench")
_ENCODE_PHASES = ("plan", "encode_write", "stats_manifest", "promote_lineage", "commit")


def layer_of(span_name: str) -> str:
    return span_name.split(":")[0].rsplit(".", 1)[0]


def self_by_layer(tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, secs in zip(tracer.spans, tracer.self_seconds()):
        out[layer_of(s["name"])] = out.get(layer_of(s["name"]), 0.0) + secs
    return out


def _per_span(tracer, groups: dict) -> dict[str, dict]:
    """Per span name: event-log totals divided by the span count, and the
    median task skew."""
    acc: dict[str, dict] = {}
    for s in tracer.spans:
        a = acc.setdefault(s["name"], {"n": 0, "skews": [], **{k: 0 for k in _GROUP_KEYS}})
        a["n"] += 1
        g = groups.get(f"span-{s['id']}")
        if g:
            for k in _GROUP_KEYS:
                a[k] += g[k]
            a["skews"].append(g["task_skew"])
    for a in acc.values():
        for k in _GROUP_KEYS:
            a[k] /= a["n"]
        a["task_skew"] = statistics.median(a["skews"]) if a["skews"] else 0.0
    return acc


def table_stats(wl, spark, tracer) -> dict[str, tuple[float, str]]:
    """tablefmt.* for the table the last cycle wrote, and the generic
    codec mix from codec_report; measured while the session is up."""
    from eggopress import codecs
    from eggopress.tablefmt import Table

    out: dict[str, tuple[float, str]] = {}
    files = data = manifest = 0
    if getattr(wl, "table", None) and os.path.isdir(wl.table):
        with tracer.span("tablefmt.Table"):
            t = Table(wl.table)
            data, manifest = t.tree_bytes("data"), t.tree_bytes("manifest")
            files = sum(f.endswith(".parquet")
                        for _, _, fs in os.walk(t.data_dir) for f in fs)
    out["tablefmt.data_files"] = (files, "count")
    out["tablefmt.data_bytes"] = (data, "bytes")
    out["tablefmt.manifest_bytes"] = (manifest, "bytes")
    mix: dict[str, float] = {}
    if wl.generic_table:
        from eggopress import generic

        with tracer.span("generic.codec_report"):
            rows = generic.codec_report(spark, wl.table).collect()
        total = sum(r["chunks"] for r in rows) or 1
        for r in rows:
            mix[r["codec"]] = mix.get(r["codec"], 0) + r["chunks"] / total
    known = codecs.INT_CODECS + codecs.STR_CODECS
    for name in known:
        out[f"generic.codec_mix.{name}"] = (mix.get(name, 0.0), "share")
    out["generic.codec_mix.other"] = (
        sum(v for k, v in mix.items() if k not in known), "share")
    return out


def ladder(wl, sess, tracer, traced, untraced, rung, e2e, traced_e2e,
           warmup_s, peak_rss_mb, tables) -> dict[str, tuple[float, str]]:
    groups = harness.read_event_log(sess.event_log_dir)
    py_seen = any(g["python_bytes_seen"] for g in groups.values())
    sp = _per_span(tracer, groups)
    zero = {"n": 0, "task_skew": 0.0, **{k: 0.0 for k in _GROUP_KEYS}}

    def g(span: str) -> dict:
        return sp.get(span, zero)

    def py(span: str) -> float:
        # -1 = this Spark build records no Python-boundary byte metric
        return g(span)["python_bytes"] if py_seen else -1.0

    m: dict[str, tuple[float, str]] = {}
    start_s, prewarm_s = sess.starts[0]  # the run's set-up (setup_s)
    m["conf.session_start_s"] = (start_s, "s")
    m["conf.prewarm_s"] = (prewarm_s, "s")
    m.update(rung)

    enc = g("encode.encode_table")
    phases = traced.encode_phases
    for ph in _ENCODE_PHASES:
        m[f"encode.{ph}_s"] = (
            statistics.median(p.get(ph, 0.0) for p in phases) if phases else 0.0, "s")
    m["encode.partitions"] = (traced.partitions, "count")
    m["encode.tasks"] = (enc["tasks"], "count")
    m["encode.shuffle_read_bytes"] = (enc["shuffle_read_bytes"], "bytes")
    m["encode.shuffle_write_bytes"] = (enc["shuffle_write_bytes"], "bytes")
    m["encode.task_skew"] = (enc["task_skew"], "x")
    m["encode.executor_cpu_s"] = (enc["executor_cpu_s"], "s")
    m["encode.gc_s"] = (enc["gc_s"], "s")
    m["encode.spill_bytes"] = (enc["spill_bytes"], "bytes")
    m["encode.python_bytes"] = (py("encode.encode_table"), "bytes")

    full = g("decode.decode_table:full")
    lookup = g("decode.lookup_docs")
    m["decode.full_input_bytes"] = (full["input_bytes"], "bytes")
    m["decode.full_input_chunks"] = (full["input_records"], "count")
    m["decode.executor_cpu_s"] = (full["executor_cpu_s"], "s")
    m["decode.gc_s"] = (full["gc_s"], "s")
    m["decode.python_bytes"] = (py("decode.decode_table:full"), "bytes")
    m["decode.projected_input_bytes"] = (g("decode.decode_table:projected")["input_bytes"], "bytes")
    pred = g("decode.decode_table:token_range")
    m["decode.predicate_input_bytes"] = (pred["input_bytes"], "bytes")
    m["decode.predicate_input_chunks"] = (pred["input_records"], "count")
    m["decode.index_build_s"] = (median(untraced.ops, "index"), "s")
    m["decode.lookup_jobs"] = (lookup["jobs"], "count")
    m["decode.lookup_input_bytes_per_doc"] = (lookup["input_bytes"], "bytes")

    m.update(tables)

    gen = g("generic.encode_generic")
    m["generic.tasks"] = (gen["tasks"], "count")
    m["generic.shuffle_read_bytes"] = (gen["shuffle_read_bytes"], "bytes")
    m["generic.shuffle_write_bytes"] = (gen["shuffle_write_bytes"], "bytes")
    m["generic.task_skew"] = (gen["task_skew"], "x")
    m["generic.executor_cpu_s"] = (gen["executor_cpu_s"], "s")
    m["generic.gc_s"] = (gen["gc_s"], "s")
    m["generic.spill_bytes"] = (gen["spill_bytes"], "bytes")
    m["generic.python_bytes"] = (py("generic.encode_generic"), "bytes")
    m["generic.full_input_bytes"] = (g("generic.decode_generic:full")["input_bytes"], "bytes")
    pruned = g("generic.decode_generic:pruned")
    m["generic.pruned_input_bytes"] = (pruned["input_bytes"], "bytes")
    m["generic.pruned_input_chunks"] = (pruned["input_records"], "count")
    m["generic.full_input_chunks"] = (g("generic.decode_generic:full")["input_records"], "count")

    for short, span in (("jaccard", "pipeline.dedup.ngram_jaccard_pairs"),
                        ("minhash", "pipeline.dedup.minhash_lsh_pairs")):
        d = g(span)
        m[f"dedup.{short}.jobs"] = (d["jobs"], "count")
        m[f"dedup.{short}.tasks"] = (d["tasks"], "count")
        m[f"dedup.{short}.shuffle_write_bytes"] = (d["shuffle_write_bytes"], "bytes")
        m[f"dedup.{short}.executor_cpu_s"] = (d["executor_cpu_s"], "s")
        m[f"dedup.{short}.python_bytes"] = (py(span), "bytes")
    m["dedup.pairs_out"] = (traced.pairs_out, "count")

    selfs = self_by_layer(tracer)
    for layer in _LAYERS:
        m[f"{layer}.self_s"] = (selfs.get(layer, 0.0), "s")

    got = wl.op_metrics(untraced.ops)
    m.update({k: (got.get(k, 0.0), unit) for k, unit in _OP_METRICS.items()})
    n_ops = untraced.attempted
    m["op.failed_op_share"] = (untraced.failed / n_ops if n_ops else 0.0, "share")
    m["op.warmup_s"] = (warmup_s, "s")
    m["op.cycles"] = (len(untraced.cycles), "count")
    m["op.peak_rss_mb"] = (peak_rss_mb, "MB")

    # not setup_s: the traced session is a warm restart in the same JVM
    for k in ("write_rows_per_s", "read_rows_per_s", "scan_s", "cycle_s"):
        m[f"trace.overhead.{k}"] = (traced_e2e[k]["value"] - e2e[k]["value"], e2e[k]["unit"])
    m["trace.spans"] = (len(tracer.spans), "count")
    m["trace.python_bytes_recorded"] = (1.0 if py_seen else 0.0, "bool")
    return m


# workload-specific end-to-end numbers, from the untraced half;
# a workload reports the ones that apply to it, the rest read 0
_OP_METRICS = {
    "op.encode_tokens_per_s": "tokens/s", "op.decode_tokens_per_s": "tokens/s",
    "op.projected_scan_s": "s", "op.predicate_scan_s": "s", "op.lookup_p50_s": "s",
    "op.lookup_tail_s": "s", "op.lookup_tail_pct": "percentile", "op.lookups": "count",
    "op.encode_rows_per_s": "rows/s", "op.decode_rows_per_s": "rows/s",
    "op.pruned_scan_s": "s", "op.jaccard_s": "s", "op.minhash_s": "s",
}


def print_tree(tracer) -> None:
    """The span tree, aggregated by path: count, total and self seconds,
    then self time per layer."""
    paths: dict[tuple, list] = {}
    path_of: dict[int, tuple] = {}
    for s, self_s in zip(tracer.spans, tracer.self_seconds()):
        p = (path_of[s["parent"]] if s["parent"] is not None else ()) + (s["name"],)
        path_of[s["id"]] = p
        rec = paths.setdefault(p, [0, 0.0, 0.0])
        rec[0] += 1
        rec[1] += s["end"] - s["start"]
        rec[2] += self_s
    print(f"span tree (run {tracer.run_id}): count total_s self_s")
    for p, (n, tot, slf) in sorted(paths.items()):
        print(f"  {'  ' * (len(p) - 1)}{p[-1]}: {n} {tot:.4f} {slf:.4f}")
    print("self time per layer: " + ", ".join(
        f"{k}={v:.4f}s" for k, v in sorted(self_by_layer(tracer).items())))
