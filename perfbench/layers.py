"""Per-layer metrics for the traced run (``run.py --trace 1``).

Every number here is taken from outside the program: a span (run.Tracer)
around one call into a module's public functions, with the Spark jobs and
tasks that call scheduled counted under the span's job group.  The layer
probe runs the same calls on every workload, on the workload's own input
table, so each traced run emits the full per-layer metric set; the
workload's own ops run first, alternately traced and untraced, and the
difference between the two is reported as the tracing overhead.

Layer -> end-to-end metric it should move (workload):
  stats, partitioning, encode, codecs encode -> turns_per_s, op_p50_s (bulk_encode)
  codecs decode, decode, manifest.committed_blocks -> turns_per_s, op_p50_s,
      range_p50_s (scan_lookup)
  selector, bytes -> disk_bytes_per_turn, vs_ref_ratio (both)
  manifest encode tail and resume -> op_p50_s (bulk_encode, small share)
  operators (near-dup LSH) -> none of the transcript workloads' metrics
"""

from __future__ import annotations

import os
import statistics
import time

from run import (
    STATS_FRACTION,
    NullTracer,
    Workload,
    n_ops,
    tree_bytes,
)

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
CODECS = ("plain", "dict", "rle", "forbp", "delta", "fsst")
SELECTOR_CODECS = CODECS + ("alp",)
SAMPLE_BUCKETS = 16  # 1 in 16 conversations feed the driver-side codec sample
SAMPLE_BLOCK_ROWS = 8192
CODEC_REPEATS = 3
PROBE_POINTS = 4
PROBE_RANGES = 2
N_DOCS = 5000
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def warm_session(spark, work: str) -> float:
    """First tiny encode + decode in the JVM; returns its wall seconds."""
    from bids2table_spark.manifest import decode_job, encode_job
    from bids2table_spark.synth import synth_transcripts

    t0 = time.perf_counter()
    small = synth_transcripts(spark, n_conv=256, seed=43, n_pt=2)
    out = os.path.join(work, "warm")
    encode_job(spark, small, out, run_id="warm")
    decode_job(spark, out).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def gen_docs(n: int, seed: int):
    """Seeded near-duplicate corpus shaped like the ``documents`` table:
    10-100 words from a 30-word vocabulary; a fifth of the documents copy
    an earlier one with one word replaced by ``dup``."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_WORDS, dtype=object)
    n_base = n - n // 5
    lens = rng.integers(10, 101, n_base)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [list(words[e - k:e]) for e, k in zip(ends, lens)]
    for src in rng.integers(0, n_base, n - n_base):
        toks = list(texts[src])
        toks[rng.integers(0, len(toks))] = "dup"
        texts.append(toks)
    order = rng.permutation(n)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [" ".join(texts[i]) for i in order],
    })


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _workload_ops(wl: Workload, seconds: float) -> tuple[list[float], list[float]]:
    """The workload's closed loop with ops alternately traced and untraced;
    returns the primary-op samples of each kind."""
    tracer, null = wl.tr, NullTracer()
    traced, untraced = [], []
    for i in range(wl.warmup_ops, wl.warmup_ops + max(2, n_ops(seconds))):
        wl.tr = tracer if i % 2 else null
        before = len(wl.samples.get(wl.primary, ()))
        with wl.tr.span("op", op_id=i):
            wl.op(i, timed=True)
        (traced if i % 2 else untraced).extend(wl.samples[wl.primary][before:])
    wl.tr = tracer
    return traced, untraced


def _codec_sample(df):
    """Driver-side blocks: a fixed 1-in-SAMPLE_BUCKETS slice of conversations,
    key-sorted like an encode group, cut into SAMPLE_BLOCK_ROWS chunks."""
    from pyspark.sql import functions as F

    tbl = (
        df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(SAMPLE_BUCKETS)) == 0)
        .orderBy("conv_id", "turn_idx")
        .toArrow()
    )
    return [tbl.slice(lo, SAMPLE_BLOCK_ROWS) for lo in range(0, tbl.num_rows, SAMPLE_BLOCK_ROWS)]


def _codec_kernels(tr, df) -> dict:
    """encode_block_arrow / decode_block per codec, on every sample column
    whose type the codec supports.  MB/s are raw (orig_bytes) megabytes."""
    from bids2table_spark.blocks import (
        PHYS_TO_LOGICAL,
        decode_block,
        encode_block_arrow,
        spark_field_phys,
    )
    from bids2table_spark.codecs import CODECS as REGISTRY

    phys = {f.name: spark_field_phys(f.dataType) for f in df.schema.fields}
    blocks = _codec_sample(df)
    out = {}
    for codec in CODECS:
        impl = REGISTRY.get(codec)
        orig = enc = 0
        t_enc = t_dec = 0.0
        with tr.span(f"blocks.encode_block_arrow+decode_block[{codec}]"):
            for col in COLUMNS:
                if impl is None or PHYS_TO_LOGICAL[phys[col]] not in impl.dtypes:
                    continue
                for b, chunk in enumerate(blocks):
                    arr = chunk.column(col).combine_chunks()
                    e, d = [], []
                    for _ in range(CODEC_REPEATS):
                        t0 = time.perf_counter()
                        row = encode_block_arrow("p", "g", b, col, arr, phys[col], codec)
                        e.append(time.perf_counter() - t0)
                        t0 = time.perf_counter()
                        decode_block(row, verify=True)  # checksum-verified
                        d.append(time.perf_counter() - t0)
                    orig += row["orig_bytes"]
                    enc += row["enc_bytes"]
                    t_enc += statistics.median(e)
                    t_dec += statistics.median(d)
        mb = orig / 1e6
        out[f"codecs.{codec}.encode_mb_per_s"] = (mb / t_enc if t_enc else 0.0, "MB/s")
        out[f"codecs.{codec}.decode_mb_per_s"] = (mb / t_dec if t_dec else 0.0, "MB/s")
        out[f"codecs.{codec}.ratio"] = (orig / enc if enc else 0.0, "ratio")
    return out


def _bytes_table(spark, out: str, work: str) -> tuple[list[dict], dict, int]:
    """Per-column raw -> payload -> disk bytes and the codec histogram of the
    committed blocks.  A column's disk bytes are its block rows written alone
    with the block files' compression (Parquet, zstd level 3)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bids2table_spark.encode import BLOCKS_DDL_WITH_IDX
    from bids2table_spark.manifest import committed_blocks

    fields = [f.strip().split(" ")[0] for f in BLOCKS_DDL_WITH_IDX.split(",")]
    blocks = committed_blocks(spark, out).select(*fields).toArrow()
    hist = {
        r["codec"]: r["count"]
        for r in committed_blocks(spark, out).groupBy("codec").count().collect()
    }
    rows = []
    for col in COLUMNS:
        sub = blocks.filter(pc.equal(blocks["column"], col))
        path = os.path.join(work, f"col-{col}.parquet")
        pq.write_table(sub, path, compression="zstd", compression_level=3)
        rows.append({
            "column": col,
            "raw": int(pc.sum(sub["orig_bytes"]).as_py() or 0),
            "payload": int(pc.sum(sub["enc_bytes"]).as_py() or 0),
            "disk": os.path.getsize(path),
        })
        os.remove(path)
    return rows, hist, tree_bytes(os.path.join(out, "blocks"))


def _operators(tr, spark, seed: int) -> dict:
    from bids2table_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
        minhash_lsh_pairs,
    )

    n = spark.sparkContext.defaultParallelism
    # first LSH plan in the JVM pays code generation; keep it out of the spans
    _noop(dedup_clusters(spark.createDataFrame(gen_docs(200, seed + 1))))
    docs = spark.createDataFrame(gen_docs(N_DOCS, seed)).repartition(n).cache()
    n_docs = docs.count()
    with tr.span("operators.minhash_lsh_pairs", op_id="probe") as s_lsh:
        pairs = minhash_lsh_pairs(docs).localCheckpoint()
        n_pairs = pairs.count()
    with tr.span("operators.connected_components", op_id="probe") as s_cc:
        cc = connected_components(pairs).localCheckpoint()
        n_members = cc.count()
        n_clusters = cc.select("cluster_id").distinct().count()
    docs.unpersist()
    return {
        "operators.lsh_pairs_s": (s_lsh["end"] - s_lsh["start"], "s"),
        "operators.components_s": (s_cc["end"] - s_cc["start"], "s"),
        "operators.pairs_per_doc": (n_pairs / n_docs, "ratio"),
        "operators.dups_per_pair": ((n_members - n_clusters) / max(n_pairs, 1), "ratio"),
    }


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def layer_metrics(wl: Workload, seconds: float, session_start_s: float,
                  warm_s: float, out_root: str) -> dict:
    """Run the workload traced, then the layer probe; return per-layer metrics."""
    from bids2table_spark.decode import decode_table
    from bids2table_spark.encode import encode_grouped
    from bids2table_spark.manifest import (
        committed_blocks,
        decode_job,
        encode_job,
        read_manifest,
    )
    from bids2table_spark.partitioning import salt_plan, with_group
    from bids2table_spark.stats import plan_from_stats

    tr, spark, df, work = wl.tr, wl.spark, wl.table.df, wl.work
    traced, untraced = _workload_ops(wl, seconds)
    overhead = statistics.median(traced) / statistics.median(untraced) - 1.0

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start_s, "s"),
        "session.warm_s": (warm_s, "s"),
    }
    with tr.span("stats.plan_from_stats", op_id="probe") as s:
        plan = plan_from_stats(df, fraction=STATS_FRACTION)
    m["stats.plan_s"] = (_dur(s), "s")

    with tr.span("partitioning.salt_plan+with_group", op_id="probe"):
        splan = salt_plan(df)
        grouped = with_group(df, splan)
        sizes = sorted(r["count"] for r in grouped.groupBy("pt", "grp").count().collect())
    m["partitioning.groups"] = (sum(splan.values()), "count")
    m["partitioning.group_rows_max_over_median"] = (sizes[-1] / statistics.median(sizes), "ratio")

    with tr.span("encode.encode_grouped", op_id="probe") as s:
        encode_grouped(grouped, plan=plan, num_partitions=sum(splan.values())) \
            .write.mode("overwrite").option("compression", "zstd") \
            .parquet(os.path.join(work, "grouped"))
    m["encode.grouped_write_s"] = (_dur(s), "s")
    m["spark.tasks.encode_grouped"] = (tr.total(s, "tasks"), "count")
    grouped_write_s = _dur(s)

    m.update(_codec_kernels(tr, df))

    out = os.path.join(work, "probe")
    with tr.span("manifest.encode_job", op_id="probe") as s:
        summary = encode_job(spark, df, out, run_id="probe", plan=plan)
    wl.check(summary["n_rows"] == wl.table.n_rows and summary["groups_failed"] == 0,
             f"probe encode: {summary}")
    m["manifest.encode_job_s"] = (_dur(s), "s")
    m["manifest.tail_s"] = (_dur(s) - grouped_write_s, "s")
    m["spark.jobs.encode_job"] = (tr.total(s, "jobs"), "count")

    with tr.span("manifest.encode_job[resume]", op_id="probe") as s:
        resumed = encode_job(spark, df, out, run_id="probe-resume", plan=plan)
    wl.check(resumed["groups_encoded"] == 0, f"resume encoded groups: {resumed}")
    m["manifest.resume_s"] = (_dur(s), "s")
    with tr.span("manifest.read_manifest", op_id="probe"):
        m["manifest.rows"] = (read_manifest(spark, out).count(), "count")

    with tr.span("manifest.committed_blocks", op_id="probe") as s:
        _noop(committed_blocks(spark, out))
    m["manifest.committed_blocks_s"] = (_dur(s), "s")
    with tr.span("manifest.decode_job[full]", op_id="probe") as s:
        _noop(decode_job(spark, out, verify=True))
    m["spark.jobs.decode_job"] = (tr.total(s, "jobs"), "count")
    with tr.span("decode.decode_table", op_id="probe") as s:
        _noop(decode_table(committed_blocks(spark, out), verify=True))
    m["decode.decode_table_s"] = (_dur(s), "s")

    # zone-map pruning: rows decoded per row the exact predicate keeps, over
    # a fixed set of the seeded lookups on the probe table
    for kind, n in (("point", PROBE_POINTS), ("range", PROBE_RANGES)):
        counts = [wl.lookup(kind, j, timed=False, out=out) for j in range(n)]
        ratio = sum(c[0] for c in counts) / max(sum(c[1] for c in counts), 1)
        m[f"decode.{kind}_rows_decoded_per_row_returned"] = (ratio, "ratio")

    with tr.span("bytes_table", op_id="probe"):
        table, hist, disk = _bytes_table(spark, out, work)
    payload = sum(r["payload"] for r in table)
    for r in table:
        m[f"bytes.{r['column']}.payload_over_raw"] = (r["payload"] / r["raw"], "ratio")
        m[f"bytes.{r['column']}.disk_over_payload"] = (r["disk"] / r["payload"], "ratio")
    m["bytes.disk_over_payload"] = (disk / payload, "ratio")
    for codec in SELECTOR_CODECS:
        m[f"selector.blocks.{codec}"] = (hist.get(codec, 0), "count")

    m.update(_operators(tr, spark, wl.seed))
    m["trace.overhead_frac"] = (overhead, "ratio")

    print(f"{'column':10s} {'raw_B':>12s} {'payload_B':>12s} {'disk_B':>12s}")
    for r in table:
        print(f"{r['column']:10s} {r['raw']:12d} {r['payload']:12d} {r['disk']:12d}")
    print(f"{'blocks dir':10s} {'':12s} {payload:12d} {disk:12d}")
    print("codec histogram (blocks):", dict(sorted(hist.items())))
    os.makedirs(out_root, exist_ok=True)
    tr.dump(
        os.path.join(out_root, f"trace_{wl.name}_seed{wl.seed}.json"),
        {
            "bytes_table": table,
            "blocks_dir_disk_bytes": disk,
            "codec_histogram": hist,
            "primary_op_traced_s": traced,
            "primary_op_untraced_s": untraced,
        },
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
