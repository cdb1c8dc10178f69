"""Scale-stress harness (VERDICT r6 item 5): measured scaling curves
for the candidate-bounded dedup/ANN families, so the 100 TB posture is
empirical, not just plan-shape argued.

Synthesizes ×N corpora from /root/testdata/sf0.1 (documents +
embeddings only) by unioning N deterministic copies:

- documents: copy k remaps every token t -> md5(t:k)[:8] — an injective
  per-copy vocabulary substitution, so each copy reproduces the base
  corpus's EXACT shingle-overlap structure internally while sharing no
  shingle across copies.  A ×N corpus is therefore N independent
  corpora of identical statistics: a candidate-bounded algorithm must
  scale ~linearly in N; an all-pairs one scales ~N².
- embeddings: copy k rotates each vector's dimensions by k.  Rotation
  preserves norms and within-copy geometry; cross-copy cosines are
  decorrelated.

Measured per scale, per family (same code paths the operators ship —
_minhash_sig_bands, sign_lsh_candidates, assign_clusters/ivf_topk, the
registered substring operator itself):

- minhash_banding   candidate pairs from band-bucket collisions
- sign_lsh          banded candidate pairs over the corpus
- substring_windows shared-window pairs (full registered operator)
- ivf_pruning       scanned rows for a 10-probe panel at n_probe=4/16

Writes PERF_SCALE.json; PERF.md's "Measured scaling" section quotes it.
Run: python scale_stress.py [--scales 1,4,16] [--base /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SYNTH_ROOT = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "etl_builder_spark_scale"
)
DOC_COPY_STRIDE = 1_000_000  # clears the 10k/20k plant-offset ranges
VEC_COPY_STRIDE = 2_000


def synth_dir(spark, base: str, scale: int) -> str:
    """Materialize the ×scale corpus (idempotent, marker-guarded)."""
    if scale == 1:
        return base
    out = os.path.join(SYNTH_ROOT, f"x{scale}")
    marker = os.path.join(out, "_staged")
    if os.path.exists(marker):
        _synth_events(spark, base, out, scale)  # r11 upgrade-in-place
        _synth_tpch(spark, base, out, scale)  # r12 upgrade-in-place
        return out
    os.makedirs(out, exist_ok=True)

    d = spark.read.parquet(os.path.join(base, "documents.parquet"))
    doc_copies = [d]
    for k in range(1, scale):
        remap = F.array_join(
            F.transform(
                F.split("text", " "),
                lambda t: F.substring(F.md5(F.concat(t, F.lit(f":{k}"))), 1, 8),
            ),
            " ",
        )
        doc_copies.append(
            d.select(
                (F.col("doc_id") + k * DOC_COPY_STRIDE).alias("doc_id"),
                remap.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    docs = doc_copies[0]
    for c in doc_copies[1:]:
        docs = docs.unionByName(c)
    docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    e = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    dim = len(e.select("embedding").first()[0])
    vec_copies = [e]
    for k in range(1, scale):
        r = k % dim or 1
        rotated = F.concat(
            F.slice("embedding", r + 1, dim - r), F.slice("embedding", 1, r)
        )
        vec_copies.append(
            e.select(
                (F.col("vec_id") + k * VEC_COPY_STRIDE).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )
    vecs = vec_copies[0]
    for c in vec_copies[1:]:
        vecs = vecs.unionByName(c)
    vecs.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))

    o = spark.read.parquet(os.path.join(base, "orders.parquet"))
    ord_copies = [o]
    for k in range(1, scale):
        # price perturbed per copy (2-dp exact shift keyed on the copy
        # and key — keeps the distribution realistic, decorrelates
        # copies, preserves 2-dp money semantics)
        shift = (F.pmod(F.col("o_orderkey") * (2 * k + 1), F.lit(1000)) / 100.0) - 5.0
        ord_copies.append(
            o.select(
                (F.col("o_orderkey") + k * 1_000_000).alias("o_orderkey"),
                "o_custkey",
                "o_orderstatus",
                F.round(F.col("o_totalprice") + shift, 2).alias("o_totalprice"),
                "o_orderdate",
                "o_orderpriority",
            )
        )
    orders = ord_copies[0]
    for c in ord_copies[1:]:
        orders = orders.unionByName(c)
    orders.write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))

    with open(marker, "w") as f:
        f.write("ok")
    _synth_events(spark, base, out, scale)
    _synth_tpch(spark, base, out, scale)
    return out


EVT_COPY_STRIDE = 10_000_000
USER_COPY_STRIDE = 1_000_000

#: strides for the round-12 full-10-table synthesis — aligned with the
#: orders stride (1_000_000) so copy k's lineitem rows reference copy
#: k's orders, parts and suppliers
ORD_COPY_STRIDE = 1_000_000
CUST_COPY_STRIDE = 1_000_000
PART_COPY_STRIDE = 1_000_000
SUPP_COPY_STRIDE = 100_000


def _synth_tpch(spark, base: str, out: str, scale: int) -> None:
    """Round-12 (VERDICT r11 item 3): complete the ×scale corpus to
    ALL TEN tables so the frozen bench cohort can be parity-swept at an
    sf1.0-equivalent size.  region/nation copy verbatim (TPC-H keeps
    dimensions fixed across SF); customer/supplier/part stride their
    keys per copy; lineitem copy k strides l_orderkey by the SAME
    1e6 the orders synthesis uses — so copy k's lines land on copy
    k's orders — and l_partkey/l_suppkey onto copy k's part/supplier
    rows, preserving full FK coverage at every scale.  Quantities,
    prices, dates stay verbatim: the point is shape at ×N, and the
    per-copy key remap already decorrelates every join path.
    Upgrade-in-place marker: pre-round-12 synth dirs gain the six
    tables without re-synthesizing documents/embeddings/orders/events."""
    marker = os.path.join(out, "_staged_tpch")
    if os.path.exists(marker):
        return
    for t in ("region", "nation"):
        spark.read.parquet(os.path.join(base, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))

    def fan(df, key_shifts: dict):
        copies = [df]
        for k in range(1, scale):
            sel = []
            for c in df.columns:
                if c in key_shifts:
                    sel.append((F.col(c) + k * key_shifts[c]).alias(c))
                else:
                    sel.append(F.col(c))
            copies.append(df.select(*sel))
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        return allc

    cust = spark.read.parquet(os.path.join(base, "customer.parquet"))
    fan(cust, {"c_custkey": CUST_COPY_STRIDE}).write.mode("overwrite").parquet(
        os.path.join(out, "customer.parquet")
    )
    supp = spark.read.parquet(os.path.join(base, "supplier.parquet"))
    fan(supp, {"s_suppkey": SUPP_COPY_STRIDE}).write.mode("overwrite").parquet(
        os.path.join(out, "supplier.parquet")
    )
    part = spark.read.parquet(os.path.join(base, "part.parquet"))
    fan(part, {"p_partkey": PART_COPY_STRIDE}).write.mode("overwrite").parquet(
        os.path.join(out, "part.parquet")
    )
    li = spark.read.parquet(os.path.join(base, "lineitem.parquet"))
    fan(
        li,
        {
            "l_orderkey": ORD_COPY_STRIDE,
            "l_partkey": PART_COPY_STRIDE,
            "l_suppkey": SUPP_COPY_STRIDE,
        },
    ).write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))
    with open(marker, "w") as f:
        f.write("ok")


def _synth_events(spark, base: str, out: str, scale: int) -> None:
    """×scale events (round-11, for the stream_state family): copy k
    shifts event_id and user_id by per-copy strides and keeps ts —
    N independent user populations emitting the SAME traffic shape, so
    per-key streaming state (sessions, dedup ids) must scale ~linearly
    in N while the watermark horizon stays constant.  Output is
    re-sorted by ts so row-sliced replay files stay time-ordered like
    the base corpus.  Separate marker: pre-round-11 synth dirs upgrade
    in place without re-synthesizing documents/embeddings/orders."""
    marker = os.path.join(out, "_staged_events")
    if os.path.exists(marker):
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(base, "events.parquet"))
    copies = [ev]
    for k in range(1, scale):
        copies.append(
            ev.select(
                (F.col("event_id") + k * EVT_COPY_STRIDE).alias("event_id"),
                "ts",
                (F.col("user_id") + k * USER_COPY_STRIDE).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    allev = copies[0]
    for c in copies[1:]:
        allev = allev.unionByName(c)
    allev.orderBy("ts", "event_id").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    with open(marker, "w") as f:
        f.write("ok")


def timed(fn):
    t0 = time.time()
    out = fn()
    return out, round(time.time() - t0, 2)


def measure_minhash(spark, sf_dir: str) -> dict:
    from etl_builder_spark.llm.dedup import _minhash_sig_bands

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", F.lower("text").alias("text")
    )
    n_docs = d.count()
    sig, bands = _minhash_sig_bands(d)
    a, b = bands.alias("a"), bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id"), F.col("b.doc_id"))
    (n_cand, secs) = timed(lambda: cand.distinct().count())
    sig.unpersist()
    bands.unpersist()
    return {"n_input": n_docs, "candidates": n_cand, "seconds": secs}


def measure_sign_lsh(spark, sf_dir: str) -> dict:
    from etl_builder_spark.llm.embed_dedup import sign_lsh_candidates

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n_vecs = e.count()
    cand = sign_lsh_candidates(e, e)
    (n_cand, secs) = timed(cand.count)
    spark.catalog.clearCache()
    # the log-N remedy: same 32-hyperplane pool re-banded 2×16 — band
    # width must track log2(N) or banding saturates into all-pairs
    wide = sign_lsh_candidates(e, e, n_bands=2, bits_per_band=16)
    (n_wide, secs_wide) = timed(wide.count)
    spark.catalog.clearCache()
    return {
        "n_input": n_vecs,
        "candidates": n_cand,
        "seconds": secs,
        "candidates_2x16": n_wide,
        "seconds_2x16": secs_wide,
    }


def measure_substring(spark, sf_dir: str) -> dict:
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    pairs = REGISTRY["dedup_substring_windows"].fn(spark, sf_dir)
    (agg, secs) = timed(
        lambda: pairs.agg(
            F.count(F.lit(1)).alias("pairs"), F.sum("n_shared").alias("shared")
        ).first()
    )
    spark.catalog.clearCache()
    return {
        "n_input": n_docs,
        "candidates": int(agg["shared"] or 0),
        "pairs": int(agg["pairs"]),
        "seconds": secs,
    }


def measure_ivf(spark, sf_dir: str) -> dict:
    from etl_builder_spark.llm.ivf import (
        IVF_SEED_HI,
        IVF_SEED_LO,
        assign_clusters,
        ivf_topk,
    )

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n_vecs = e.count()
    cent = e.where(F.col("vec_id").between(IVF_SEED_LO, IVF_SEED_HI)).select(
        (F.col("vec_id") - IVF_SEED_LO).alias("cluster_id"), F.col("v").alias("cv")
    )
    asg = assign_clusters(e, cent).persist()
    probes = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )

    def run():
        topk = ivf_topk(asg, cent, probes, k=10, n_probe=4)
        return topk.count()

    (n_topk, secs) = timed(run)
    # scanned rows = probe panel × probed-list sizes (the pruning metric)
    from pyspark.sql import Window

    pc = probes.crossJoin(F.broadcast(cent))
    from etl_builder_spark.llm.similarity import sq_dist

    w = Window.partitionBy("probe_id").orderBy(
        F.expr(f"ROUND({sq_dist('pv', 'cv')}, 9)").asc(), F.col("cluster_id")
    )
    probe_lists = (
        pc.withColumn("crn", F.row_number().over(w))
        .where(F.col("crn") <= 4)
        .select("probe_id", "cluster_id")
    )
    scanned = probe_lists.join(asg, "cluster_id").count()
    asg.unpersist()
    return {
        "n_input": n_vecs,
        "candidates": scanned,
        "topk_rows": n_topk,
        "seconds": secs,
    }


def measure_semantic_blocks(spark, sf_dir: str) -> dict:
    """SemDeDup-shaped pairing under the salted hot-cluster guard:
    total within-cluster pairs (the algorithm's work) and the MAX
    per-task block fan-out (what the guard bounds at ceiling²)."""
    from etl_builder_spark.llm.embed_dedup import salted_within_cluster_pairs
    from etl_builder_spark.llm.ivf import IVF_SEED_HI, IVF_SEED_LO, assign_clusters

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n_vecs = e.count()
    cent = e.where(F.col("vec_id").between(IVF_SEED_LO, IVF_SEED_HI)).select(
        (F.col("vec_id") - IVF_SEED_LO).alias("cluster_id"), F.col("v").alias("cv")
    )
    asg = assign_clusters(e, cent).select("vec_id", "cluster_id").persist()
    ceiling = 500
    pairs = salted_within_cluster_pairs(asg, ceiling)

    def run():
        return pairs.count()

    (n_pairs, secs) = timed(run)
    # the guard's bound: the largest single block's candidate fan-out
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy("vec_id")
    chunked = asg.withColumn(
        "chunk", ((F.row_number().over(w) - F.lit(1)) / F.lit(ceiling)).cast("int")
    )
    sizes = chunked.groupBy("cluster_id", "chunk").count()
    max_chunk = sizes.agg(F.max("count")).first()[0]
    asg.unpersist()
    spark.catalog.clearCache()
    return {
        "n_input": n_vecs,
        "candidates": n_pairs,
        "max_block_rows": int(max_chunk),
        "block_bound": ceiling * ceiling,
        "seconds": secs,
    }


def measure_banded_prefix(spark, sf_dir: str) -> dict:
    """Scale-equivalence of the banded prefix-sum twins: the KS parent
    (one unpartitioned Window over distinct order totals) vs its
    banded twin must return IDENTICAL statistics at every scale, and
    the walls show the swap costs nothing locally."""
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    n_rows = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    (parent, secs_parent) = timed(
        lambda: REGISTRY["stats_ks_two_sample"].fn(spark, sf_dir).first()
    )
    spark.catalog.clearCache()
    (banded, secs_banded) = timed(
        lambda: REGISTRY["stats_ks_two_sample_banded"].fn(spark, sf_dir).first()
    )
    spark.catalog.clearCache()
    identical = tuple(parent) == tuple(banded)
    return {
        "n_input": n_rows,
        "candidates": int(parent["n_a"] + parent["n_b"]),  # filtered sample size
        "identical": identical,
        "d_stat": float(parent["d_stat"]),
        "seconds": secs_banded,
        "seconds_parent": secs_parent,
    }


def measure_rank_map(spark, sf_dir: str) -> dict:
    """Scale-equivalence of the banded average-rank map (the Spearman
    core, round 8): the doubled tie-average ranks over distinct order
    totals computed via banded_running must be IDENTICAL to the
    unpartitioned-Window parent at every scale, and the walls show the
    crossover as the distinct-value frame grows."""
    from pyspark.sql import Window

    from etl_builder_spark.operators.stats_rank import _avg2_rank_map

    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_totalprice").alias("x")
    )
    n_rows = o.count()

    def parent():
        per = o.groupBy(F.col("x").alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        m = per.select(
            "v", (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias("avg2")
        )
        return m.agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.sum(F.col("avg2").cast("decimal(38,0)")).alias("chk"),
        ).first()

    def banded():
        m = _avg2_rank_map(o, "x")
        return m.agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.sum(F.col("avg2").cast("decimal(38,0)")).alias("chk"),
        ).first()

    (p, secs_parent) = timed(parent)
    spark.catalog.clearCache()
    (b, secs_banded) = timed(banded)
    spark.catalog.clearCache()
    return {
        "n_input": n_rows,
        "candidates": int(p["n_vals"]),  # distinct-value frame size
        "identical": tuple(p) == tuple(b),
        "seconds": secs_banded,
        "seconds_parent": secs_parent,
    }


def measure_pregel_persist(spark, sf_dir: str) -> dict:
    """Round-9 family: the iterate-on-DataFrame lineage trap, measured.
    Three synchronous min-label rounds (the graph_label_propagation
    kernel) over the token co-occurrence graph of the xN corpus —
    per-copy vocabularies are disjoint, so the graph is N independent
    copies and a well-behaved implementation scales ~linearly.  The
    no-persist variant re-expands every prior round's joins inside each
    new round's plan; the shipped per-round persist() cuts the lineage.
    Both variants must produce an IDENTICAL component census."""
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "w"),
    )
    from pyspark.sql import Window

    wn = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        toks.select("doc_id", "pos", "w", F.lead("w").over(wn).alias("w2"))
        .where((F.col("w") != "") & F.col("w2").isNotNull() & (F.col("w") != F.col("w2")))
        .groupBy(F.col("w").alias("u"), F.col("w2").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
        .select("u", "v")
        .persist()
    )
    n_edges = adj.count()

    def run(persist: bool):
        sym = adj.unionAll(adj.select(F.col("v").alias("u"), F.col("u").alias("v")))
        if persist:
            sym = sym.persist()
        labels = sym.select(F.col("u").alias("node")).distinct().select(
            "node", F.col("node").alias("lab")
        )
        for _ in range(3):
            if persist:
                labels = labels.persist()
            nb = (
                sym.join(labels.withColumnRenamed("node", "v2"), sym["v"] == F.col("v2"))
                .groupBy("u")
                .agg(F.min("lab").alias("nb_lab"))
            )
            labels = labels.join(nb, labels["node"] == nb["u"], "left").select(
                "node",
                F.least(F.col("lab"), F.coalesce(F.col("nb_lab"), F.col("lab"))).alias("lab"),
            )
        census = labels.groupBy("lab").count()
        return census.agg(
            F.count(F.lit(1)).alias("n_labels"),
            F.sum("count").alias("n_nodes"),
        ).first()

    (a, secs_nopersist) = timed(lambda: run(False))
    spark.catalog.clearCache()
    adj.persist()
    adj.count()
    (b, secs_persist) = timed(lambda: run(True))
    spark.catalog.clearCache()
    adj.unpersist()
    return {
        "n_input": n_edges,
        "candidates": int(a["n_labels"]),
        "identical": tuple(a) == tuple(b),
        "seconds": secs_persist,
        "seconds_parent": secs_nopersist,
    }


def measure_sparse_inverted(spark, sf_dir: str) -> dict:
    """The DF-ceiling inverted trigram index (VERDICT r9 item 6) — the
    candidate generator shared by sim_sparse_tfidf_pairs AND
    dedup_text_containment / dedup_ngram_jaccard: a pair is scored only
    if it shares >= 1 kept shingle, so candidates must scale ~linearly
    on the ×N synthetic corpus (copies share no shingles by
    construction); an all-pairs design would scale ~N².  Measures the
    SHIPPED code path (sparse_sim.shingle_tf) end-to-end: postings
    after the DF ceiling, distinct co-shingle candidate pairs, and the
    ceiling's cut (dropped tokens)."""
    from etl_builder_spark.llm.sparse_sim import SPARSE_DF_CEILING, shingle_tf

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    n_docs = d.count()
    sh = shingle_tf(d)
    dfreq = sh.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_tokens = dfreq.count()
    keep = dfreq.where(F.col("df") <= SPARSE_DF_CEILING).select("token")
    kept = sh.join(F.broadcast(keep), "token")
    n_postings = kept.count()
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
    )
    (n_cand, secs) = timed(cand.count)
    sh.unpersist()
    return {
        "n_input": n_docs,
        "candidates": n_cand,
        "postings": n_postings,
        "vocab": n_tokens,
        "seconds": secs,
    }


def measure_stream_state(spark, sf_dir: str) -> dict:
    """The streaming STATE path, measured (VERDICT r10 item 6 — the
    last argued-only posture): replay the ×N events corpus as 6
    time-ordered micro-batches (maxFilesPerTrigger=1) and read the
    state-store metrics off the progress stream for

    - the declared key's shape (`stream_session_gap_30m_live`:
      session_window, complete mode, NO watermark) — state must scale
      ~linearly with corpus size, because it holds every session ever;
    - the production shape (runtime.session_counts: the same session
      window WITH a 2h watermark, update mode) — end-of-batch state
      must stay bounded by the horizon, orders of magnitude below the
      corpus, because eviction drops closed sessions;
    - dedup (`dropDuplicatesWithinWatermark`, 2h horizon, append) —
      end-of-batch id state likewise bounded by the horizon.

    The pair of session measurements is the watermark lever made
    visible: same operator, same data, state O(corpus) without it and
    O(horizon) with it."""
    from etl_builder_spark.sources.staging import staged
    from etl_builder_spark.streaming.runtime import (
        run_to_memory_with_progress,
        stream_events,
    )

    src = os.path.join(sf_dir, "events.parquet")

    def _build(stage):
        import pyarrow.parquet as _pq

        t = _pq.read_table(src).sort_by([("ts", "ascending"), ("event_id", "ascending")])
        n = t.num_rows
        n_slices = 6
        cuts = [n * i // n_slices for i in range(n_slices + 1)]
        for i in range(n_slices):
            p = os.path.join(stage, f"s{i}.parquet")
            _pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), p)
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stage = staged("etl_builder_spark_scale_stream", sf_dir, src, _build)

    def _state_metrics(progress):
        per_batch = [
            (
                p.get("batchId"),
                sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])),
                p.get("durationMs", {}).get("triggerExecution", 0),
            )
            for p in progress
            if p.get("stateOperators")
        ]
        rows = [r for _, r, _ in per_batch]
        walls = [w for _, _, w in per_batch]
        return {
            "batches": len(per_batch),
            "state_rows_final": rows[-1] if rows else 0,
            "state_rows_max": max(rows) if rows else 0,
            "batch_ms_max": max(walls) if walls else 0,
        }

    n_events = spark.read.parquet(src).count()
    out: dict = {"n_input": n_events}

    # 1. the declared key's shape: complete-mode sessions, no watermark
    ev = stream_events(spark, stage, max_files_per_trigger=1)
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    (res, secs) = timed(
        lambda: run_to_memory_with_progress(agg, mode="complete", timeout_s=600)
    )
    m = _state_metrics(res[1])
    out.update({f"session_complete_{k}": v for k, v in m.items()})
    out["session_complete_seconds"] = secs

    # 2. the production shape: same sessions WITH a 2h watermark
    ev = stream_events(spark, stage, max_files_per_trigger=1)
    agg_wm = (
        ev.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    (res, secs) = timed(
        lambda: run_to_memory_with_progress(agg_wm, mode="append", timeout_s=600)
    )
    m = _state_metrics(res[1])
    out.update({f"session_watermark_{k}": v for k, v in m.items()})
    out["session_watermark_seconds"] = secs

    # 3. dedup-id state under the same horizon
    ev = stream_events(spark, stage, max_files_per_trigger=1)
    dd = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    (res, secs) = timed(
        lambda: run_to_memory_with_progress(dd, mode="append", timeout_s=600)
    )
    m = _state_metrics(res[1])
    out.update({f"dedup_{k}": v for k, v in m.items()})
    out["dedup_seconds"] = secs
    out["dedup_rows_out"] = res[0].count()
    return out


def measure_skew_salting(spark, sf_dir: str) -> dict:
    """The salting lever's SHUFFLE LAYOUT, measured (round 11 — the
    claim in operators/skew.py was value-tested but the re-layout
    itself only argued): plant a hot key holding ~30% of the ×N events
    corpus (user_id % 10 < 3 → sentinel -1, expression-side, zero
    extra data), hash-partition on the join key with and without an
    8-way salt, and read the MAX rows per reduce partition — the
    straggler-task size a real join's reducers would see.

    Expected: the plain layout's max partition ≈ the hot key's share
    (30% of corpus, growing linearly with N — the straggler that kills
    wall-clock at 100 TB); the salted layout's max ≈ plain/8 at every
    N (constant-factor relief, independent of scale)."""
    from pyspark.sql import functions as F

    n_parts = 32
    n_salts = 8
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        F.when(F.col("user_id") % 10 < 3, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "event_id",
    )
    n_input = ev.count()

    def max_part(df, *cols):
        return (
            df.repartition(n_parts, *cols)
            .select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    (plain, secs_plain) = timed(lambda: max_part(ev, "k"))
    salted = ev.withColumn(
        "__salt", F.pmod(F.xxhash64("k", "event_id"), F.lit(n_salts)).cast("int")
    )
    (spread, secs_salted) = timed(lambda: max_part(salted, "k", "__salt"))
    hot = ev.where(F.col("k") == -1).count()
    return {
        "n_input": n_input,
        "hot_key_rows": hot,
        "plain_max_partition_rows": plain,
        "salted_max_partition_rows": spread,
        "relief_factor": round(plain / max(spread, 1), 2),
        "seconds_plain": secs_plain,
        "seconds_salted": secs_salted,
    }


FAMILIES = {
    "minhash_banding": measure_minhash,
    "sign_lsh": measure_sign_lsh,
    "substring_windows": measure_substring,
    "ivf_pruning": measure_ivf,
    "semantic_blocks": measure_semantic_blocks,
    "banded_prefix": measure_banded_prefix,
    "rank_map": measure_rank_map,
    "pregel_persist": measure_pregel_persist,
    "sparse_inverted": measure_sparse_inverted,
    "stream_state": measure_stream_state,
    "skew_salting": measure_skew_salting,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--out", default="PERF_SCALE.json")
    ap.add_argument(
        "--families",
        default=None,
        help="comma list; default all.  Results MERGE into --out so a "
        "single-family run never clobbers other families' curves.",
    )
    args = ap.parse_args()
    fams = list(FAMILIES) if not args.families else args.families.split(",")
    unknown = [f for f in fams if f not in FAMILIES]
    if unknown:
        raise SystemExit(f"unknown families: {unknown}")

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", "8g")
        .appName("scale_stress")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # merge semantics: preserve curves from prior runs (e.g. the x64
    # pregel_persist point) when re-running a subset of families/scales
    results: dict[str, dict] = {}
    if os.path.exists(args.out):
        try:
            with open(args.out) as f:
                results = json.load(f)
        except ValueError:
            results = {}
    for scale in [int(s) for s in args.scales.split(",")]:
        sf_dir = synth_dir(spark, args.base, scale)
        results.setdefault(str(scale), {})
        for fam in fams:
            res = FAMILIES[fam](spark, sf_dir)
            results[str(scale)][fam] = res
            print(f"x{scale} {fam}: {res}", flush=True)
        spark.catalog.clearCache()

    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
