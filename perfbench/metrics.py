"""Metric arithmetic of the benchmark, kept apart from I/O so it is testable.

Every end-to-end metric is computed over the timed window of one run; see
README.md for what each one means per workload.
"""
import hashlib
import math

STAR = {"region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events"}
CORPUS = {"documents", "embeddings"}
TABLES = sorted(STAR | CORPUS)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_ms.p50": "ms",
    "op_ms.p90": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "queries.build_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count",
    "plan.broadcast_joins": "count",
    "plan.sort_merge_joins": "count",
    "plan.fanout_repartitions": "count",
    "plan.native_exprs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.core_util": "ratio",
    "exec.driver_gap_ms": "ms",
    "exchange.write_bytes": "bytes",
    "exchange.read_bytes": "bytes",
    "exchange.records": "count",
    "exchange.fetch_wait_ms": "ms",
    "exchange.spill_bytes": "bytes",
    "scan.bytes": "bytes",
    "scan.records": "count",
    "scan.tasks": "count",
    "kernel.shingle_md5_bottomk.ns_per_row": "ns",
    "kernel.minhash_sig.ns_per_row": "ns",
    "kernel.simhash32.ns_per_row": "ns",
    "kernel.nearest_centroid_l2.ns_per_row": "ns",
    "kernel.token_counts.ns_per_row": "ns",
    "op.minhash_near_dup_pairs.ms": "ms",
    "op.exact_keep_min.ms": "ms",
    "op.connected_components.ms": "ms",
    "op.ann_ivf_topk.ms": "ms",
    "op.decontaminate_overlap.ms": "ms",
    "op.curate.ms": "ms",
    "codec.flate_pdf.us_per_doc": "us",
    "codec.docx.us_per_doc": "us",
    "codec.doc.us_per_doc": "us",
    "codec.pdf_encrypted.us_per_doc": "us",
    "codec.ooxml_encrypted.us_per_doc": "us",
    "codec.doc_encrypted.us_per_doc": "us",
    "codec.sniff.us_per_doc": "us",
    "codec.diagnose.us_per_doc": "us",
    "ingest.extract_ms": "ms",
    "ingest.reassemble_ms": "ms",
    "ingest.quarantine_ms": "ms",
    "ingest.sink_ms": "ms",
    "ingest.pages": "count",
    "ingest.yield": "ratio",
    "ingest.quarantine.encrypted": "count",
    "ingest.quarantine.unsupported-filter.DCTDecode": "count",
    "ingest.quarantine.not-pdf-or-docx": "count",
    "ingest.quarantine.other": "count",
    "sink.bytes_out_per_in": "ratio",
    "self_ms.op": "ms",
    "self_ms.build": "ms",
    "self_ms.sink": "ms",
    "self_ms.catalyst": "ms",
    "self_ms.spark_job": "ms",
}


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def beyond(values, q):
    """How many samples lie above the q-th percentile. The benchmark's rule
    for a reported percentile is that at least ten do."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def digest(rows):
    """SHA-256 of canonical rows (dev/compare.py's `canon` output)."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def workload_of(tables):
    """The catalog workload a query belongs to, by the tables it reads."""
    tables = set(tables)
    unknown = tables - STAR - CORPUS
    if unknown:
        raise ValueError(f"reads tables outside the catalog: {sorted(unknown)}")
    if tables & CORPUS:
        return "catalog-corpus"
    if tables:
        return "catalog-star"
    raise ValueError("reads no catalog table")


def split(classes):
    """{workload: [query names]} over the whole catalog. Raises unless every
    query lands in exactly one catalog workload."""
    out = {"catalog-star": [], "catalog-corpus": []}
    bad = {}
    for name, c in sorted(classes.items()):
        try:
            out[workload_of(c["tables"])].append(name)
        except ValueError as e:
            bad[name] = f"{e} (classification error: {c.get('error')})"
    if bad:
        raise ValueError(f"queries without a catalog workload: {bad}")
    assert sorted(out["catalog-star"] + out["catalog-corpus"]) == sorted(classes)
    return out


def _latency(samples):
    ms = [s["ms"] for s in samples]
    return {"op_ms.p50": percentile(ms, 50), "op_ms.p90": percentile(ms, 90),
            "samples": len(ms), "p90_beyond": beyond(ms, 90)}


def catalog_result(got, verdicts):
    """Counts and rates of one catalog run. An execution fails when it
    throws, or when its query's checked output was wrong or missing; a
    failing query stays in the workload and counts on every execution."""
    w = got["window"]
    samples = w["samples"]
    wrong = {n for n, v in verdicts.items() if v}
    failed = sum(1 for s in samples if not s["ok"] or s["name"] in wrong)
    wall_s = w["wall_ms"] / 1000.0
    lat = _latency(samples)
    return {
        "attempted": len(samples),
        "failed": failed,
        "ops_per_s": (len(samples) - failed) / wall_s,
        "op_ms.p50": lat["op_ms.p50"],
        "op_ms.p90": lat["op_ms.p90"],
        "cpu_ms_per_op": w["cpu_ms"] / len(samples),
        "peak_rss_mb": got["peak_rss_mb"],
        "details": {"samples": lat["samples"], "p90_beyond": lat["p90_beyond"],
                    "wall_s": wall_s, "failed_frac": failed / len(samples),
                    "passes": len(samples) / max(1, len(got["correctness"]))},
    }


def ingest_result(got):
    """Counts and rates of one ingest run, per input document: a document
    fails in every batch when the checked pass put it in the wrong channel,
    and every document of a batch that threw fails."""
    w = got["window"]
    samples = w["samples"]
    docs = got["docs"]
    wrong = len(got["wrong_docs"])
    attempted = docs * len(samples)
    failed = sum(docs if not s["ok"] else wrong for s in samples)
    wall_s = w["wall_ms"] / 1000.0
    lat = _latency(samples)
    return {
        "attempted": attempted,
        "failed": failed,
        "ops_per_s": (attempted - failed) / wall_s,
        "op_ms.p50": lat["op_ms.p50"],
        "op_ms.p90": lat["op_ms.p90"],
        "cpu_ms_per_op": w["cpu_ms"] / attempted,
        "peak_rss_mb": got["peak_rss_mb"],
        # a fixed number of input bytes per batch, so in a run this is
        # ops_per_s times a constant; reported, not bounded
        "details": {"samples": lat["samples"], "p90_beyond": lat["p90_beyond"],
                    "wall_s": wall_s, "failed_frac": failed / attempted,
                    "docs": docs, "input_mb_per_s":
                        got["input_bytes_per_op"] * len(samples) / 1e6 / wall_s},
    }


def end_to_end(result, setup_s):
    values = dict(result, setup_s=setup_s)
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


# Layers only one side of the program runs. A workload that never enters a
# layer reports its metrics as 0: no call, no time.
SIDE_LAYERS = {
    "catalog": ("queries.", "kernel.", "op."),
    "ingest": ("codec.", "ingest.", "sink."),
}


def per_layer(values, side):
    """Every per-layer metric; those of the other side's layers read 0."""
    other = tuple(p for s, ps in SIDE_LAYERS.items() if s != side for p in ps)
    values = dict(values)
    for k in PER_LAYER:
        if k.startswith(other):
            values.setdefault(k, 0.0)
    missing = sorted(set(PER_LAYER) - set(values))
    if missing:
        raise ValueError(f"per-layer metrics missing: {missing}")
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
