"""Twin-oracle equivalence for the deterministic Lloyd trainer (r5).

``ops/cluster.kmeans_lloyd`` is the piece that made ``knn_ivf_trained``
oracle-checkable: an md5-shuffled init and a FIXED iteration count,
with every assignment/update passing through the round(·, 6) boundary,
so the whole fit unrolls into chained DuckDB CTEs
(``__spark_entry__.oracle_sql()["knn_ivf_trained"]``).

These tests pin the cross-engine contract the driver gate leans on:

* exact centroid equality Spark vs DuckDB on adversarial synthetic
  vectors (including NaN / all-zero rows the finite-norm filter must
  drop on BOTH sides);
* the empty-cell rule (a starved cell keeps its previous centroid);
* the end-to-end entry query vs its registered oracle at sf0.001.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd
import pytest

from ragflow_spark.ops.cluster import kmeans_lloyd


def _lloyd_oracle_sql(k: int, iters: int, dim: int) -> str:
    """The training-CTE generator, mirroring oracle_sql()'s unroll."""
    parts = [
        f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
vf AS (SELECT vec_id, ev FROM (
         SELECT vec_id,
                list_transform(ev, x -> coalesce(x, 'NaN'::DOUBLE)) AS ev
         FROM v)
       WHERE sqrt(list_dot_product(ev, ev)) > 0
         AND NOT isnan(sqrt(list_dot_product(ev, ev)))),
dims AS (SELECT unnest(generate_series(0, {dim - 1})) AS d),
c0 AS (SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INT - 1
                AS centroid_id,
              list_transform(ev, x -> round(x, 6)) AS mv
       FROM vf ORDER BY md5(vec_id::VARCHAR) LIMIT {k})"""
    ]
    for i in range(1, iters + 1):
        parts.append(f""",
a{i} AS (
  SELECT centroid_id, ev FROM (
    SELECT c.centroid_id, vf.ev,
           row_number() OVER (
             PARTITION BY vf.vec_id
             ORDER BY CASE WHEN sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(mv, mv)) > 0
                 THEN round(list_dot_product(ev, mv)
                 / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(mv, mv))), 6) END DESC,
               c.centroid_id) AS rnk
    FROM vf, c{i - 1} c
  ) WHERE rnk = 1),
c{i} AS (
  SELECT p.centroid_id, coalesce(g.nv, p.mv) AS mv
  FROM c{i - 1} p LEFT JOIN (
    SELECT centroid_id, list(round(m, 6) ORDER BY d) AS nv
    FROM (SELECT centroid_id, d, avg(ev[d+1]) AS m
          FROM a{i}, dims GROUP BY centroid_id, d)
    GROUP BY centroid_id
  ) g USING (centroid_id))""")
    parts.append(f"\nSELECT centroid_id, mv FROM c{iters} ORDER BY centroid_id")
    return "".join(parts)


def _duck_centroids(rows, k: int, iters: int, dim: int) -> dict[int, list]:
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
    )
    got = con.sql(_lloyd_oracle_sql(k, iters, dim)).fetchall()
    con.close()
    return {int(r[0]): list(r[1]) for r in got}


def _spark_centroids(spark, rows, k: int, iters: int) -> dict[int, list]:
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(emb, k=k, iters=iters).collect()
    return {int(r["centroid_id"]): list(r["embedding"]) for r in out}


def test_lloyd_twin_exact_on_adversarial_vectors(spark):
    """Exact Spark == DuckDB centroids, degenerate rows excluded on
    both sides (NaN element, all-zero, near-duplicate points that
    force rounded-sim argmax ties)."""
    rng = np.random.default_rng(3)
    dim, k, iters = 8, 4, 3
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(40)]
    rows.append((40, [float("nan")] + [0.0] * (dim - 1)))  # NaN -> dropped
    rows.append((41, [0.0] * dim))  # zero norm -> dropped
    rows.append((42, list(rows[0][1])))  # exact duplicate -> sim tie
    spark_c = _spark_centroids(spark, rows, k, iters)
    duck_c = _duck_centroids(rows, k, iters, dim)
    assert spark_c == duck_c
    for mv in spark_c.values():  # degenerates never poisoned a mean
        assert all(np.isfinite(mv))


def test_lloyd_empty_cell_keeps_previous_centroid(spark):
    """Two init centroids with identical direction: the rounded-sim
    argmax ties every point to the lower centroid_id, so the other
    cell starves and must carry its init vector through every
    iteration — on both engines."""
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, list(base)) for i in range(6)]
    k, iters, dim = 2, 3, 4
    spark_c = _spark_centroids(spark, rows, k, iters)
    duck_c = _duck_centroids(rows, k, iters, dim)
    assert spark_c == duck_c
    assert len(spark_c) == k
    # every centroid equals the (identical) init vector, starved or not
    assert all(mv == base for mv in spark_c.values())
    assert set(spark_c) == {0, 1}


def test_lloyd_twin_exact_with_all_zero_rounded_centroid(spark):
    """The md5-first row is a finite but tiny vector whose init
    centroid rounds to all zeros: both engines must rank that
    centroid's NULL similarity last rather than divide by its zero
    norm."""
    rng = np.random.default_rng(5)
    dim, k, iters = 4, 3, 2
    ids = sorted(range(30), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(30)]
    rows[ids[0]] = (ids[0], [1e-7] * dim)
    spark_c = _spark_centroids(spark, rows, k, iters)
    duck_c = _duck_centroids(rows, k, iters, dim)
    assert spark_c == duck_c
    assert spark_c[0] == [0.0] * dim  # never won a member, kept its init


def test_trained_ivf_matches_registered_oracle_sf0001(spark):
    """End to end at sf0.001: the registered knn_ivf_trained query vs
    the registered oracle SQL — the same compare the driver runs at
    sf0.01, pinned here so a drifted constant (k/cells/probes/iters)
    fails in CI before the round gate."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    got = (
        E.queries()["knn_ivf_trained"](spark, sf)
        .orderBy("query_id", "rank")
        .collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    exp = con.sql(
        E.oracle_sql()["knn_ivf_trained"] + " ORDER BY query_id, rank"
    ).fetchall()
    con.close()
    assert len(got) == len(exp) > 0
    for g, e in zip(got, exp):
        assert (g["query_id"], g["neighbor_id"], g["rank"]) == (
            e[0], e[1], e[2],
        )
        assert g["sim"] == pytest.approx(e[3], abs=0)
