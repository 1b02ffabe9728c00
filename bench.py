"""Dedup / ANN operator suite.

Runs the dedup, k-NN, text-quality and sessionize operators on the
scale-factor tables in $SPARK_GRAFT_SF_DIR (default: the sf0.1 set) at
local[$SPARK_GRAFT_CPUS], the same suite at 10x rows (skip with
--no-x10), and the ANN recall@5 record, and prints ONE JSON line:
{"metric", "value", "unit", "queries", "sf", "x10", "ann_recall", ...}.

Extraction throughput, correctness and scaling are measured by
extractbench (``python3 extractbench/run.py``), not here.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F  # noqa: E402

from ragflow_spark.ops import dedup as D
from ragflow_spark.ops import relational as R
from ragflow_spark.ops import simsearch as S
from ragflow_spark.ops import textstats as T


def _sf_of(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return 0.1


def _session(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.appName(f"bench[{cpus}]")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512-row Arrow batches: 4x fewer IPC round-trips than 128
        # (+8-13% extraction throughput measured); safe here because
        # the synthetic corpus p99 page is ~100 KB -> ~50 MB/batch.
        # On a production corpus size this to executor memory / p99
        # page bytes (the 128 MB per-doc cap bounds the worst row).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _timed(fn) -> tuple[float, int]:
    t0 = time.time()
    n = fn()
    return time.time() - t0, n


def _timed_best(fn, reps: int = 2) -> tuple[float, list[float]]:
    """Best-of-``reps`` wall time (plus all readings).  The shared VM's
    co-tenant load swings single-shot readings ±15-20% (BENCH.md noise
    band); min-of-2 is the least-interference estimate of the code's
    actual cost — the same policy the scaling section has always used
    (best-of-3 per level).  All raw readings are kept in the output so
    the noise itself stays visible round over round."""
    runs = []
    for _ in range(reps):
        w, _ = _timed(fn)
        runs.append(round(w, 3))
    return min(runs), runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)

    spark = _session(cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    qvec = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    queries: dict[str, float] = {}
    runs_all: dict[str, list[float]] = {}
    for name, fn in {
        "dedup_exact": lambda: D.dedup_exact(docs).count(),
        "minhash_dedup": lambda: D.minhash_dedup_pairs(
            docs, threshold=0.8, shingle="word"
        ).count(),
        "simhash_pairs": lambda: D.simhash_pairs(docs, max_hamming=8).count(),
        "knn_bruteforce": lambda: S.knn_bruteforce(emb, qvec, k=5).count(),
        "text_quality": lambda: T.add_quality(docs).count(),
        "sessionize": lambda: R.sessionize(events).count(),
    }.items():
        w, runs = _timed_best(fn)
        queries[name] = round(w, 3)
        runs_all[name] = runs

    # x10: the dedup/ANN suite at 10x rows (the "would it survive a
    # scale-up" probe; VERDICT r01 #10, recorded per-round since r3 —
    # pass --no-x10 to skip).  Each replica offsets ids and appends a
    # distinct token so near-dup structure stays realistic instead of
    # exploding quadratically inside every LSH bucket.
    if "--no-x10" not in sys.argv:
        from functools import reduce

        def rep10(df, id_col, text_col=None):
            parts = []
            for i in range(10):
                p = df.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000))
                if text_col:
                    p = p.withColumn(
                        text_col, F.concat(F.col(text_col), F.lit(f" rep{i}"))
                    )
                parts.append(p)
            return reduce(lambda a, b: a.unionAll(b), parts)

        docs10 = rep10(docs, "doc_id", "text")
        emb10 = rep10(emb, "vec_id")
        x10: dict[str, float] = {}
        for name, fn in {
            "dedup_exact": lambda: D.dedup_exact(docs10).count(),
            "minhash_dedup": lambda: D.minhash_dedup_pairs(
                docs10, threshold=0.8, shingle="word"
            ).count(),
            "simhash_pairs": lambda: D.simhash_pairs(docs10, max_hamming=8).count(),
            "knn_bruteforce": lambda: S.knn_bruteforce(emb10, qvec, k=5).count(),
            "text_quality": lambda: T.add_quality(docs10).count(),
        }.items():
            # conditional best-of-2: the x10 tier is the scale-behavior
            # signal, so a co-tenant spike on a single shot would
            # misrecord a design as quadratic; re-run anything over a
            # second (sub-second readings can't change a verdict) and
            # keep both readings in query_runs
            w, _ = _timed(fn)
            runs = [round(w, 3)]
            if w > 1.0:
                w2, _ = _timed(fn)
                runs.append(round(w2, 3))
                w = min(w, w2)
            x10[name] = round(w, 3)
            runs_all[f"x10_{name}"] = runs
        x10["n_docs"] = docs10.count()
        x10["n_vecs"] = emb10.count()
        queries_x10 = x10
    else:
        queries_x10 = None

    # ANN quality record: recall@5 of the approximate paths vs the
    # exact brute force, measured in BOTH regimes with the worst case
    # labeled (VERDICT r4 #3 — r4 shipped only ivf c32/p8 on the
    # isotropic vectors and recorded 0.625, inviting the "fast because
    # it's wrong" reading):
    # * isotropic — the sf embeddings table, ANN's worst case (no
    #   cluster structure, neighbors barely closer than random).  The
    #   shipped knob is c16/p12 (probe 3/4 of cells), the cheapest
    #   rung on the measured ladder that clears 0.9 here (c32/p8 0.625,
    #   c32/p16 0.84, c16/p12 0.945, c32/p24 0.97 at sf0.1).  A real
    #   deployment on structureless vectors should expect exactly this
    #   trade: high recall on isotropic data costs probing most cells.
    # * clustered — deterministic mode-structured vectors (modes =
    #   topics), the realistic shape for document embeddings, where the
    #   cheap knob (c32/p8) is near-exact because true neighbors share
    #   cells by construction.
    # Not part of the timed suite; the speed numbers above mean nothing
    # without the recall they buy (tests/test_ann_recall.py pins the
    # knob/regime behavior; this records the at-sf numbers per round).
    from ragflow_spark.ops.cluster import knn_ivf_trained

    def _recall_of(corpus, qs) -> "callable":
        bf_pairs = (
            S.knn_bruteforce(corpus, qs, k=5)
            .select("query_id", "neighbor_id")
            .cache()
        )
        n_bf = bf_pairs.count()

        def _recall(ann) -> float:
            hits = (
                ann.select("query_id", "neighbor_id")
                .join(bf_pairs, ["query_id", "neighbor_id"])
                .count()
            )
            return round(hits / max(n_bf, 1), 3)

        _recall.unpersist = bf_pairs.unpersist
        return _recall

    from ragflow_spark.ops.pq import knn_pq

    rec_iso = _recall_of(emb, qvec)
    ann_recall = {
        "ivf_trained_c16_p12_isotropic": rec_iso(
            knn_ivf_trained(emb, qvec, k=5, n_cells=16, n_probe=12)
        ),
        "lsh_16bit_8band_isotropic": rec_iso(
            S.knn_lsh(emb, qvec, k=5, n_bits=16, n_bands=8)
        ),
        # PQ/ADC + exact re-rank (ops/pq.py): on the isotropic worst
        # case the 16x16 codebook with a 64·k shortlist clears 0.9
        # while touching ~6% of the corpus with full vectors — the
        # measured r5 ladder: 8x16/r16 0.595, 16x16/r16 0.865,
        # 16x16/r64 0.985, 8x16/r128 0.98 (sf0.1, 5k vectors)
        "pq_16x16_r64_isotropic": rec_iso(
            knn_pq(emb, qvec, k=5, n_sub=16, k_sub=16, rerank=64)
        ),
    }
    rec_iso.unpersist()

    # clustered regime: same corpus size/dim as the sf embeddings,
    # deterministic (seeded generator, no RNG state shared with Spark)
    import numpy as np

    n_emb = emb.count()
    dim = len(emb.select("embedding").first()["embedding"])
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(24, dim))
    cl_rows = [
        (i, [float(x) for x in centers[i % 24] + 0.15 * rng.normal(size=dim)])
        for i in range(n_emb)
    ]
    cl = spark.createDataFrame(cl_rows, "vec_id long, embedding array<float>")
    cl_q = cl.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rec_cl = _recall_of(cl, cl_q)
    ann_recall["ivf_trained_c32_p8_clustered"] = rec_cl(
        knn_ivf_trained(cl, cl_q, k=5, n_cells=32, n_probe=8)
    )
    # clustered PQ: the rerank shortlist must exceed the code-tie
    # class (≈ cluster size, here ~208) or ADC ties cut true
    # neighbors by id — 48·k=240 clears it (r16 measured 0.99, r48
    # 1.0 at sf0.1); see ops/pq.py knn_pq's docstring
    ann_recall["pq_8x16_r48_clustered"] = rec_cl(
        knn_pq(cl, cl_q, k=5, n_sub=8, k_sub=16, rerank=48)
    )
    rec_cl.unpersist()

    out = {
        "metric": "headline_suite_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "query_runs": runs_all,
        "ann_recall": ann_recall,
    }
    if queries_x10 is not None:
        out["x10"] = queries_x10

    print(json.dumps(out))


if __name__ == "__main__":
    main()
