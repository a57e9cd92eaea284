"""Queries over the ``embeddings`` table.

Exact and approximate nearest-neighbour search (scalar and product
quantization, IVF, persisted ANN indexes and their appends), k-means,
and embedding-based curation and evaluation.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import shutil as _shutil
import tempfile
import uuid as _uuid

from pyspark.sql import functions as F

from shaha_spark.catalog import query
from shaha_spark.catalog._tables import _t
from shaha_spark.operators.ann_index import (
    append_to_ivf_index,
    append_to_ivf_pq_index,
    build_ivf_index,
    build_ivf_pq_index,
    ivf_index_topk,
    ivf_pq_index_topk,
    ivf_pq_refine_topk,
)
from shaha_spark.operators.dedup import embedding_near_dup_pairs, semantic_dedup
from shaha_spark.operators.embeddings import (
    dedup_by_bucket,
    quantize_int8,
    sq_topk,
    top_principal_component,
)
from shaha_spark.operators.kmeans import cluster_profile, kmeans_fit, prototypicality
from shaha_spark.operators.pq import (
    ivf_pq_topk,
    ivf_pq_train,
    pq_encode,
    pq_topk,
    pq_train,
)
from shaha_spark.operators.profile import (
    split_cast_double_sql as _split_cast_sql,
    split_cast_double_sql,
)
from shaha_spark.operators.sampling import diverse_sample
from shaha_spark.operators.similarity import (
    brute_force_topk,
    cosine_sim_hoisted,
    dot,
    hard_negatives,
    ivf_assign,
    ivf_topk,
    knn_label_accuracy,
    label_centroids,
    ndcg_at_k,
    ndcg_ideal,
    norm2,
    prefix_topk,
    topk_recall,
)


SIMILARITY_TOPK_SQL = """WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, vec_id, round(list_cosine_similarity(cv, qv), 6) AS cosine
  FROM c, q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5"""


@query("similarity_topk", oracle=SIMILARITY_TOPK_SQL)
def q_similarity_topk(spark, sf_dir):
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = brute_force_topk(embs, queries, k=5)
    return res.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


# IVF ANN: same deterministic construction as operators/similarity.py —
# decimal-exact centroid means cast through FLOAT, argmax assignment and
# nprobe probing as row_number windows with (sim DESC, id ASC) tiebreaks.
SIMILARITY_IVF_SQL = f"""WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
pos AS (
  SELECT label, unnest(embedding) AS comp,
         unnest(range(1, len(embedding) + 1)) AS p
  FROM embeddings
),
cent AS (
  SELECT label AS centroid_id, p,
         CAST(CAST({_split_cast_sql('SUM(CAST(CAST(comp AS DOUBLE) AS DECIMAL(20,10)))', 10)} / COUNT(*) AS FLOAT) AS DOUBLE) AS m
  FROM pos GROUP BY label, p
),
cvec AS (SELECT centroid_id, list(m ORDER BY p) AS cv FROM cent GROUP BY centroid_id),
assign AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.e, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN cvec c
  ) WHERE r = 1
),
probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN cvec c
  ) WHERE r <= 3
),
scored AS (
  SELECT p.query_id, a.vec_id, round(list_cosine_similarity(a.e, p.qv), 6) AS cosine
  FROM assign a JOIN probe p USING (centroid_id)
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5"""


@query("similarity_ivf", oracle=SIMILARITY_IVF_SQL)
def q_similarity_ivf(spark, sf_dir):
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = label_centroids(embs)
    res = ivf_topk(embs, queries, cents, k=5, nprobe=3)
    return res.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def _kmeans_parts(
    k: int = 4,
    iters: int = 2,
    prefix: str = "",
    src: str = "SELECT vec_id, embedding AS e FROM embeddings",
) -> list[str]:
    """CTE parts for the kmeans_fit oracle: one assignment + one
    decimal-exact mean CTE pair per iteration, mirroring
    operators/kmeans.py step for step (init = k lowest ids, cosine
    argmax with id-asc ties, float-rounded means, empty clusters keep
    the previous centroid). Final centroids land in CTE
    ``{prefix}c{iters}``. ``prefix``/``src`` let callers chain several
    independent fits in one statement (the PQ per-subspace codebooks:
    src slices the vector, prefix namespaces the CTEs)."""
    p_ = prefix
    parts = [
        f"{p_}v AS ({src})",
        """{p}c0 AS (
  SELECT centroid_id, cv, CAST(0 AS BIGINT) AS n_members FROM (
    SELECT row_number() OVER (ORDER BY vec_id ASC) AS centroid_id,
           CAST(e AS DOUBLE[]) AS cv
    FROM (SELECT vec_id, e FROM {p}v ORDER BY vec_id ASC LIMIT {k})
  )
)""".format(k=k, p=p_),
    ]
    for i in range(1, iters + 1):
        prev = f"{p_}c{i-1}"
        parts.append(f"""{p_}a{i} AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM {p_}v v CROSS JOIN {prev} c
  ) WHERE r = 1
)""")
        # NB: comp must widen to DOUBLE before the DECIMAL cast — DuckDB
        # scales FLOAT→DECIMAL in float32 arithmetic, losing ~7 digits
        parts.append(f"""{p_}m{i} AS (
  SELECT centroid_id, p,
         CAST(CAST({_split_cast_sql('SUM(CAST(CAST(comp AS DOUBLE) AS DECIMAL(20,10)))', 10)} / COUNT(*) AS FLOAT) AS DOUBLE) AS m,
         COUNT(*) AS n
  FROM (SELECT centroid_id, unnest(e) AS comp,
               unnest(range(1, len(e) + 1)) AS p FROM {p_}a{i})
  GROUP BY centroid_id, p
)""")
        parts.append(f"""{p_}c{i} AS (
  SELECT p.centroid_id,
         CASE WHEN mv.cv IS NULL THEN p.cv ELSE mv.cv END AS cv,
         CAST(coalesce(mv.n, 0) AS BIGINT) AS n_members
  FROM {prev} p LEFT JOIN (
    SELECT centroid_id, list(m ORDER BY p) AS cv, min(n) AS n
    FROM {p_}m{i} GROUP BY centroid_id
  ) mv USING (centroid_id)
)""")
    return parts


def _kmeans_sql(k: int = 4, iters: int = 2) -> str:
    ctes = ",\n".join(_kmeans_parts(k, iters))
    return f"""WITH {ctes}
SELECT centroid_id, n_members, p - 1 AS pos, comp FROM (
  SELECT centroid_id, n_members, unnest(cv) AS comp,
         unnest(range(1, len(cv) + 1)) AS p
  FROM c{iters}
)"""


KMEANS_CENTROIDS_SQL = _kmeans_sql(k=4, iters=2)


@query("kmeans_centroids", oracle=KMEANS_CENTROIDS_SQL)
def q_kmeans_centroids(spark, sf_dir):
    """Distributed Lloyd k-means (k=4, 2 iterations) — the iterative
    algorithm fully inside the value-hash gate via a per-iteration
    chained-CTE oracle. Output exploded to scalars: one row per
    (centroid, dimension)."""
    cents = kmeans_fit(_t(spark, sf_dir, "embeddings"), k=4, iters=2)
    return cents.select(
        F.col("centroid_id").cast("bigint").alias("centroid_id"),
        "n_members",
        F.posexplode("centroid").alias("pos", "comp"),
    ).select(
        "centroid_id",
        "n_members",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("comp").cast("double").alias("comp"),
    )


def _ivf_kmeans_sql(k: int = 4, iters: int = 2, nprobe: int = 2, topk: int = 5) -> str:
    """End-to-end ANN pipeline oracle: the kmeans CTE chain feeds the
    IVF assignment/probe/rank, so training AND search sit inside one
    value-hash comparison."""
    cent = f"c{iters}"
    parts = _kmeans_parts(k, iters) + [
        """q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
)""",
        f"""fassign AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN {cent} c
  ) WHERE r = 1
)""",
        f"""probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN {cent} c
  ) WHERE r <= {nprobe}
)""",
        """scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(CAST(a.e AS DOUBLE[]), p.qv), 6) AS cosine
  FROM fassign a JOIN probe p USING (centroid_id)
)""",
    ]
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {topk}"""


SIMILARITY_IVF_KMEANS_SQL = _ivf_kmeans_sql(k=4, iters=2, nprobe=2, topk=5)


@query("similarity_ivf_kmeans", oracle=SIMILARITY_IVF_KMEANS_SQL)
def q_similarity_ivf_kmeans(spark, sf_dir):
    """End-to-end ANN: k-means training feeds IVF probing — the full
    train-then-search pipeline inside one oracle comparison."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = kmeans_fit(embs, k=4, iters=2)
    res = ivf_topk(embs, queries, cents, k=5, nprobe=2)
    return res.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


EMBEDDING_NEAR_DUP_SQL = """WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4"""


@query("embedding_near_dup", oracle=EMBEDDING_NEAR_DUP_SQL)
def q_embedding_near_dup(spark, sf_dir):
    # 0.4 is calibrated to the synthetic fixture, whose max intra-label
    # cosine is ~0.45-0.47 (random unit-ish vectors, no planted dups);
    # a production near-dup threshold would be ~0.95. Chosen so the
    # oracle comparison exercises real pairs instead of the empty set.
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


_EMB_STATS = """v AS (SELECT vec_id, embedding AS e FROM embeddings),
x AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS p FROM v),
s AS (SELECT p, CAST(min(x) AS DOUBLE) AS mn, CAST(max(x) AS DOUBLE) AS mx FROM x GROUP BY p)"""

EMBEDDING_QUANTIZE_SQL = f"""WITH {_EMB_STATS}
SELECT vec_id, p - 1 AS pos,
  CASE WHEN mx = mn THEN 0
       ELSE LEAST(255, CAST(FLOOR((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0) AS INTEGER))
  END AS code
FROM x JOIN s USING (p)"""


@query("embedding_quantize", oracle=EMBEDDING_QUANTIZE_SQL)
def q_embedding_quantize(spark, sf_dir):
    """Per-dimension affine uint8 quantization of the embedding matrix
    (exact-arithmetic codes — see operators/embeddings.py)."""
    return quantize_int8(_t(spark, sf_dir, "embeddings"))


EMBEDDING_BUCKET_DEDUP_SQL = f"""WITH {_EMB_STATS},
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN CAST(x AS DOUBLE) >= (mn + mx) / 2.0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM x JOIN s USING (p) GROUP BY vec_id
)
SELECT bucket, MIN(vec_id) AS keep_id, COUNT(*) AS n_members FROM sig GROUP BY bucket"""


@query("embedding_bucket_dedup", oracle=EMBEDDING_BUCKET_DEDUP_SQL)
def q_embedding_bucket_dedup(spark, sf_dir):
    """Sign-bit (orthant) bucket dedup of embeddings: lowest id kept
    per d-bit signature."""
    return dedup_by_bucket(_t(spark, sf_dir, "embeddings"))


# integer-exact power iteration: mirrors operators/embeddings.py
# step for step (decimal-exact float-rounded means -> 2^20 grid ->
# two exact matvecs in HUGEINT/DEC38 -> one rounded normalization)
EMBEDDING_TOP_PC_SQL = f"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
x AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS p FROM v),
m AS (
  SELECT p,
         CAST(CAST({_split_cast_sql('SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,10)))', 10)} / COUNT(*) AS FLOAT) AS DOUBLE) AS m
  FROM x GROUP BY p
),
g AS (
  SELECT vec_id, p, CAST(FLOOR((CAST(x AS DOUBLE) - m) * 1048576.0) AS BIGINT) AS xq
  FROM x JOIN m USING (p)
),
d1 AS (SELECT vec_id, SUM(CAST(xq AS HUGEINT)) AS dot FROM g GROUP BY vec_id),
u1 AS (SELECT p, SUM(CAST(xq AS HUGEINT) * dot) AS u FROM g JOIN d1 USING (vec_id) GROUP BY p),
d2 AS (SELECT vec_id, SUM(CAST(xq AS HUGEINT) * u) AS dot FROM g JOIN u1 USING (p) GROUP BY vec_id),
u2 AS (SELECT p, SUM(CAST(xq AS HUGEINT) * dot) AS u FROM g JOIN d2 USING (vec_id) GROUP BY p),
mx AS (SELECT MAX(ABS(u)) AS sc FROM u2)
SELECT p - 1 AS pos, ROUND(CAST(u AS DOUBLE) / CAST(sc AS DOUBLE), 9) AS comp FROM u2, mx"""


@query("embedding_top_pc", oracle=EMBEDDING_TOP_PC_SQL)
def q_embedding_top_pc(spark, sf_dir):
    """Dominant principal direction by integer-exact power iteration
    (2 rounds, 2^20 grid) — bit-identical across engines."""
    return top_principal_component(_t(spark, sf_dir, "embeddings"), iters=2)


def _ivf_kmeans_append_sql(
    k: int = 4,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 5,
    base_where: str = "vec_id % 10 != 7",
) -> str:
    """Oracle for the incremental-append IVF index
    (ann_index.append_to_ivf_index): the kmeans chain trains on the
    BASE split only — exactly the rows build_ivf_index saw — while
    assignment and scoring cover the FULL corpus (base ∪ appended
    batch, both routed through the same frozen centroids). Everything
    else is the verbatim `_ivf_kmeans_sql` recipe, so a value-hash
    match proves append(batch) ≡ from-scratch indexing of base ∪ batch
    under base-trained artifacts."""
    cent = f"c{iters}"
    parts = _kmeans_parts(
        k,
        iters,
        src=(
            "SELECT vec_id, embedding AS e FROM embeddings "
            f"WHERE {base_where}"
        ),
    ) + [
        "av AS (SELECT vec_id, embedding AS e FROM embeddings)",
        """q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
)""",
        f"""fassign AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM av v CROSS JOIN {cent} c
  ) WHERE r = 1
)""",
        f"""probe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN {cent} c
  ) WHERE r <= {nprobe}
)""",
        """scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(CAST(a.e AS DOUBLE[]), p.qv), 6) AS cosine
  FROM fassign a JOIN probe p USING (centroid_id)
)""",
    ]
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {topk}"""


def _pq_codebook_parts(where: str = "") -> list[str]:
    """CTE parts for the PQ oracles' codebook: one namespaced k-means
    chain per subspace (``s<i>_``, trained on ``embeddings{where}``),
    then their union ``cb``."""
    sub_dim = 64 // PQ_M
    parts: list[str] = []
    for s in range(PQ_M):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.extend(
            _kmeans_parts(
                k=PQ_K,
                iters=PQ_ITERS,
                prefix=f"s{s}_",
                src=(
                    f"SELECT vec_id, list_slice(embedding, {lo}, {hi}) AS e "
                    f"FROM embeddings{where}"
                ),
            )
        )
    parts.append(
        "cb AS ("
        + "\nUNION ALL\n".join(
            f"SELECT {s} AS sub_id, centroid_id, cv FROM s{s}_c{PQ_ITERS}"
            for s in range(PQ_M)
        )
        + ")"
    )
    return parts


_KPARTS = ",\n".join(_kmeans_parts(k=4, iters=2))

EMB_SEMANTIC_DEDUP_SQL = f"""WITH {_KPARTS},
af AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(
           CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])), 6) AS cosine
  FROM af a JOIN af b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
),
losers AS (SELECT DISTINCT id_b AS vec_id FROM prs WHERE cosine >= 0.98)
SELECT e2.vec_id FROM embeddings e2 LEFT JOIN losers l USING (vec_id)
WHERE l.vec_id IS NULL"""


@query("emb_semantic_dedup", oracle=EMB_SEMANTIC_DEDUP_SQL)
def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup: k-means (k=4, 2 Lloyd iterations) then cluster-blocked
    cosine near-dup pruning (operators.dedup.semantic_dedup)."""
    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2, threshold=0.98
    )


PQ_M = 4

PQ_K = 4

PQ_ITERS = 2

PQ_TOPK = 5


def _index_cache_root() -> str:
    """USER-OWNED cache root for query-time index builds (the
    old predictable shared-tmp ``shaha_idx_*`` dirs could
    be pre-created/poisoned by another user on a multi-tenant host).
    ``$SHAHA_INDEX_CACHE_DIR`` overrides; the default bakes the UID
    into the name AND the directory is created 0700 + ownership-
    checked, so a squatter's dir is rejected, not silently reused."""
    root = os.environ.get("SHAHA_INDEX_CACHE_DIR") or os.path.join(
        tempfile.gettempdir(), f"shaha_idx_cache_uid{os.getuid()}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"index cache root {root} is owned by uid {st.st_uid}, not "
            f"{os.getuid()} — refusing to build into a directory another "
            "user controls (set SHAHA_INDEX_CACHE_DIR)"
        )
    return root


def _index_path(kind: str, sf_dir: str, **params) -> tuple[str, bool]:
    """Deterministic per-(sf_dir, params) on-disk location for a
    persisted ANN index built by a query, plus whether a build
    is still needed (the old ``tempfile.mkdtemp()`` pattern
    leaked one index directory — and re-ran kmeans/PQ training and a
    parquet write — on EVERY invocation, including plan-lint
    renderings). The key hashes the resolved sf_dir, the parameter
    dict, and the mtime+size of the embeddings parquet files, so a
    regenerated testdata directory invalidates the cache.

    "Built" means the ``_complete`` marker exists in the FINAL
    ``{kind}_{key}`` directory. When a build is needed, the returned
    path points into a fresh per-process STAGING sibling
    (``{kind}_{key}.__stage_pid{pid}_{nonce}``): the caller builds
    there, then :func:`_index_built` stamps ``_complete`` inside the
    staging dir and atomically renames the WHOLE directory into the
    final name — first rename wins, the loser discards its staging
    tree and adopts the winner's index (two processes
    racing the same key used to build into the SAME directory, the
    second overwrite deleting files the first was already probing).
    Stale staging dirs from dead processes are swept opportunistically.
    """
    emb_dir = os.path.join(sf_dir, "embeddings.parquet")
    sig_parts = [os.path.abspath(sf_dir), kind, repr(sorted(params.items()))]
    for p in sorted(_glob.glob(os.path.join(emb_dir, "*.parquet"))) or [emb_dir]:
        try:
            st = os.stat(p)
            sig_parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            sig_parts.append(f"{p}:absent")
    key = hashlib.sha256("|".join(sig_parts).encode()).hexdigest()[:16]
    root = _index_cache_root()
    final_parent = os.path.join(root, f"{kind}_{key}")
    # sweep staging leftovers whose owning process is gone (crash
    # debris; a LIVE process's staging dir is mid-build — keep it)
    for stale in _glob.glob(final_parent + ".__stage_pid*"):
        try:
            pid = int(stale.rsplit("__stage_pid", 1)[1].split("_", 1)[0])
            os.kill(pid, 0)
        except (ValueError, ProcessLookupError):
            _shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — not ours to sweep
    if os.path.exists(os.path.join(final_parent, "_complete")):
        return os.path.join(final_parent, kind), False
    staging_parent = (
        f"{final_parent}.__stage_pid{os.getpid()}_{_uuid.uuid4().hex[:8]}"
    )
    os.makedirs(staging_parent, mode=0o700)
    return os.path.join(staging_parent, kind), True


def _index_built(path: str) -> str:
    """Commit a staged index build: stamp ``_complete`` inside the
    staging directory, then atomically rename the whole directory to
    its final ``{kind}_{key}`` name (see :func:`_index_path`).
    Returns the FINAL index path — callers must probe through the
    returned value, not the staging path. If another process won the
    rename race, this process's staging tree is discarded and the
    winner's completed index is adopted."""
    staging_parent = os.path.dirname(path)
    kind = os.path.basename(path)
    if ".__stage_pid" not in staging_parent:
        # already-final path (legacy caller): just stamp and return
        fd = os.open(
            os.path.join(staging_parent, "_complete"),
            os.O_CREAT | os.O_WRONLY,
            0o600,
        )
        os.close(fd)
        return path
    final_parent = staging_parent.split(".__stage_pid", 1)[0]
    fd = os.open(
        os.path.join(staging_parent, "_complete"), os.O_CREAT | os.O_WRONLY, 0o600
    )
    os.close(fd)
    for attempt in (0, 1):
        try:
            os.rename(staging_parent, final_parent)
            return os.path.join(final_parent, kind)
        except OSError:
            if os.path.exists(os.path.join(final_parent, "_complete")):
                # lost the race to a completed winner — adopt it
                _shutil.rmtree(staging_parent, ignore_errors=True)
                return os.path.join(final_parent, kind)
            if attempt == 0:
                # dead final dir without _complete (pre-staging-protocol
                # crash leftover): clear it and retry the rename once
                _shutil.rmtree(final_parent, ignore_errors=True)
    raise RuntimeError(
        f"could not commit index build {staging_parent} -> {final_parent}"
    )


def _pq_pieces(spark, sf_dir):
    corpus = _t(spark, sf_dir, "embeddings")
    cb = pq_train(corpus, m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    codes = pq_encode(corpus, cb)
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return corpus, cb, codes, queries


# PQ: m sub-kmeans chains (namespaced through the parameterized
# kmeans oracle generator) -> codebook union -> encode (argmax
# sub-dot, ties centroid-id-asc) -> per-query ADC table -> scored
# sum -> top-k window. Exposed cosines round to 6 decimals, the
# cross-engine recipe for float-fold ulp drift.
_SUB_DIM = 64 // PQ_M

_PQ_PARTS = _pq_codebook_parts() + [
    """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
vn AS (SELECT vec_id, sqrt(list_dot_product(ev, ev)) AS vnorm FROM base),
enc AS (
  SELECT vec_id, sub_id, centroid_id AS code FROM (
    SELECT b.vec_id, cb.sub_id, cb.centroid_id,
           row_number() OVER (
             PARTITION BY b.vec_id, cb.sub_id
             ORDER BY list_dot_product(
               list_slice(b.ev, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
               cb.cv) DESC,
             cb.centroid_id ASC
           ) AS r
    FROM base b CROSS JOIN cb
  ) WHERE r = 1
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
qn AS (SELECT query_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
adc AS (
  SELECT q.query_id, cb.sub_id, cb.centroid_id AS code,
         CAST(round(list_dot_product(
           list_slice(q.qv, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
           cb.cv), 9) AS DECIMAL(25,9)) AS pdot
  FROM q CROSS JOIN cb
),
sc AS (
  SELECT a.query_id, e.vec_id, CAST(sum(a.pdot) AS DOUBLE) AS sdot
  FROM enc e JOIN adc a ON e.sub_id = a.sub_id AND e.code = a.code
  GROUP BY 1, 2
),
fin AS (
  SELECT sc.query_id, sc.vec_id,
         round(sc.sdot / (qn.qnorm * vn.vnorm), 6) AS ac
  FROM sc JOIN qn USING (query_id) JOIN vn USING (vec_id)
)""".format(sd=_SUB_DIM)
]

EMB_PQ_TOPK_SQL = (
    "WITH "
    + ",\n".join(_PQ_PARTS)
    + f"""
SELECT query_id, vec_id, ac AS approx_cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
  ) AS rank FROM fin
) WHERE rank <= {PQ_TOPK}"""
)


@query("emb_pq_topk", oracle=EMB_PQ_TOPK_SQL)
def q_emb_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators.pq.pq_train /
    pq_encode / pq_topk): per-subspace codebooks chained through the
    kmeans per-iteration oracle, shuffle-free encode, broadcast ADC
    scoring."""
    _, cb, codes, queries = _pq_pieces(spark, sf_dir)
    return pq_topk(codes, cb, queries, k=PQ_TOPK)


# IVF-PQ composition oracle (r5 — upgrades the rows-only
# registration): the SAME sub-kmeans chains + codebook + encode +
# ADC recipe as emb_pq_topk, with scoring restricted to candidate
# (query, vector) pairs from a coarse kmeans probe — the coarse fit
# is the parameterized kmeans chain on the FULL vector (namespaced
# g*), assignment/probe use the identical argmax/rank recipe the
# green similarity_ivf_kmeans oracle verified.
_IVFPQ_PARTS = _PQ_PARTS[:-1] + _kmeans_parts(
    k=PQ_K, iters=PQ_ITERS, prefix="g"
) + [
    """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
vn AS (SELECT vec_id, sqrt(list_dot_product(ev, ev)) AS vnorm FROM base),
enc AS (
  SELECT vec_id, sub_id, centroid_id AS code FROM (
    SELECT b.vec_id, cb.sub_id, cb.centroid_id,
           row_number() OVER (
             PARTITION BY b.vec_id, cb.sub_id
             ORDER BY list_dot_product(
               list_slice(b.ev, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
               cb.cv) DESC,
             cb.centroid_id ASC
           ) AS r
    FROM base b CROSS JOIN cb
  ) WHERE r = 1
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
qn AS (SELECT query_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
gassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM gv v CROSS JOIN gc{it} c
  ) WHERE r = 1
),
gprobe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN gc{it} c
  ) WHERE r <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM gprobe p JOIN gassign a USING (centroid_id)
),
adc AS (
  SELECT q.query_id, cb.sub_id, cb.centroid_id AS code,
         CAST(round(list_dot_product(
           list_slice(q.qv, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
           cb.cv), 9) AS DECIMAL(25,9)) AS pdot
  FROM q CROSS JOIN cb
),
sc AS (
  SELECT a.query_id, e.vec_id, CAST(sum(a.pdot) AS DOUBLE) AS sdot
  FROM enc e
  JOIN adc a ON e.sub_id = a.sub_id AND e.code = a.code
  JOIN cand cd ON cd.query_id = a.query_id AND cd.vec_id = e.vec_id
  GROUP BY 1, 2
),
fin AS (
  SELECT sc.query_id, sc.vec_id,
         round(sc.sdot / (qn.qnorm * vn.vnorm), 6) AS ac
  FROM sc JOIN qn USING (query_id) JOIN vn USING (vec_id)
)""".format(sd=_SUB_DIM, it=PQ_ITERS, nprobe=2)
]

EMB_IVF_PQ_TOPK_SQL = (
    "WITH "
    + ",\n".join(_IVFPQ_PARTS)
    + f"""
SELECT query_id, vec_id, ac AS approx_cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
  ) AS rank FROM fin
) WHERE rank <= {PQ_TOPK}"""
)


@query("emb_ivf_pq_topk", oracle=EMB_IVF_PQ_TOPK_SQL)
def q_emb_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ composition (operators.pq.ivf_pq_topk): coarse-bucket
    probe plus ADC scoring over PQ codes. Oracled since r5: the DuckDB
    twin composes the verified emb_pq_topk recipe (m sub-kmeans chains
    + codebook + encode + ADC) with the verified similarity_ivf_kmeans
    probe recipe (coarse kmeans chain + argmax assign + nprobe rank),
    restricting ADC scoring to candidate (query, vector) pairs — an
    exact value-hash comparison of the full chain."""
    # one fused Lloyd run trains the coarse centroids and the m
    # sub-codebooks together (bit-identical to the sequential
    # kmeans_fit + pq_train pair — see ivf_pq_train; optimization r12)
    corpus = _t(spark, sf_dir, "embeddings")
    coarse, cb = ivf_pq_train(
        corpus, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_pq_topk(corpus, queries, coarse, cb, k=PQ_TOPK, nprobe=2)


# the persisted-index round trip must reproduce the in-plan chain
# bit-for-bit (same artifacts, same probe, same ADC) — the oracle
# is therefore the SAME chained recipe, verbatim
EMB_IVF_PQ_INDEX_TOPK_SQL = EMB_IVF_PQ_TOPK_SQL


@query("emb_ivf_pq_index_topk", oracle=EMB_IVF_PQ_INDEX_TOPK_SQL)
def q_emb_ivf_pq_index_topk(spark, sf_dir):
    """Persistent IVF-PQ index round trip (round 9,
    operators.ann_index.build_ivf_pq_index / ivf_pq_index_topk): fit
    coarse centroids + PQ codebooks, WRITE the codes-only corpus
    partitionBy(centroid_id) with both model sidecars, then probe
    through the partition-pruned scan that reads (id, codes, vnorm)
    and never a full vector. Same parameters as emb_ivf_pq_topk, so
    it must hash-match that entry's chained kmeans→encode→ADC oracle
    VERBATIM — proving the disk round trip (including two JSON float
    sidecar round trips) changes nothing but the scan shape.

    The index lives at a deterministic per-(sf_dir, params) path and
    is built only when absent (mkdtemp leaked a directory
    and re-ran training per invocation); staleness is keyed on the
    source parquet mtimes inside :func:`_index_path`."""
    corpus = _t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path(
        "ivfpq", sf_dir, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    if needs_build:
        build_ivf_pq_index(
            corpus, path, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
        )
        path = _index_built(path)
    return ivf_pq_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=PQ_TOPK
    )


# incremental-append IVF-PQ oracle (r10): every TRAINING CTE — the
# m sub-kmeans chains and the coarse kmeans — filters to the base
# split (vec_id % 10 != 7, the rows build_ivf_pq_index saw), while
# encode (enc) and coarse assignment (gassign) run over the FULL
# corpus through those frozen artifacts, exactly what
# append_to_ivf_pq_index does on disk. A value-hash match proves
# the append path ≡ a from-scratch rebuild of base ∪ batch under
# base-trained centroids+codebooks.
_APP_WHERE = "vec_id % 10 != 7"

_APP_PARTS = (
    _pq_codebook_parts(f" WHERE {_APP_WHERE}")
    + _kmeans_parts(
        k=PQ_K,
        iters=PQ_ITERS,
        prefix="g",
        src=(
            "SELECT vec_id, embedding AS e FROM embeddings "
            f"WHERE {_APP_WHERE}"
        ),
    )
    + [
    """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
gav AS (SELECT vec_id, embedding AS e FROM embeddings),
vn AS (SELECT vec_id, sqrt(list_dot_product(ev, ev)) AS vnorm FROM base),
enc AS (
  SELECT vec_id, sub_id, centroid_id AS code FROM (
    SELECT b.vec_id, cb.sub_id, cb.centroid_id,
           row_number() OVER (
             PARTITION BY b.vec_id, cb.sub_id
             ORDER BY list_dot_product(
               list_slice(b.ev, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
               cb.cv) DESC,
             cb.centroid_id ASC
           ) AS r
    FROM base b CROSS JOIN cb
  ) WHERE r = 1
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
qn AS (SELECT query_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
gassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM gav v CROSS JOIN gc{it} c
  ) WHERE r = 1
),
gprobe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM q CROSS JOIN gc{it} c
  ) WHERE r <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM gprobe p JOIN gassign a USING (centroid_id)
),
adc AS (
  SELECT q.query_id, cb.sub_id, cb.centroid_id AS code,
         CAST(round(list_dot_product(
           list_slice(q.qv, cb.sub_id * {sd} + 1, (cb.sub_id + 1) * {sd}),
           cb.cv), 9) AS DECIMAL(25,9)) AS pdot
  FROM q CROSS JOIN cb
),
sc AS (
  SELECT a.query_id, e.vec_id, CAST(sum(a.pdot) AS DOUBLE) AS sdot
  FROM enc e
  JOIN adc a ON e.sub_id = a.sub_id AND e.code = a.code
  JOIN cand cd ON cd.query_id = a.query_id AND cd.vec_id = e.vec_id
  GROUP BY 1, 2
),
fin AS (
  SELECT sc.query_id, sc.vec_id,
         round(sc.sdot / (qn.qnorm * vn.vnorm), 6) AS ac
  FROM sc JOIN qn USING (query_id) JOIN vn USING (vec_id)
)""".format(sd=_SUB_DIM, it=PQ_ITERS, nprobe=2)
    ]
)

EMB_IVF_PQ_INDEX_APPEND_TOPK_SQL = (
    "WITH "
    + ",\n".join(_APP_PARTS)
    + f"""
SELECT query_id, vec_id, ac AS approx_cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
  ) AS rank FROM fin
) WHERE rank <= {PQ_TOPK}"""
)


@query("emb_ivf_pq_index_append_topk", oracle=EMB_IVF_PQ_INDEX_APPEND_TOPK_SQL)
def q_emb_ivf_pq_index_append_topk(spark, sf_dir):
    """Incremental-append round trip for the persisted IVF-PQ index
    (round 10, operators.ann_index.append_to_ivf_pq_index):
    coarse centroids AND PQ codebooks train on the 90% base
    split (vec_id % 10 != 7); the held-out batch is encoded+assigned
    with the frozen sidecar artifacts and appended into the matching
    centroid_id partitions — no retrain, batch-sized work only. The
    oracle filters every training CTE to the base split while
    encoding/assigning the full corpus, proving append ≡ from-scratch
    rebuild of base ∪ batch under base-trained artifacts through the
    full ADC scoring chain."""
    corpus = _t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path(
        "ivfpq_app", sf_dir, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    if needs_build:
        build_ivf_pq_index(
            corpus.filter(F.col("vec_id") % 10 != 7),
            path,
            k_coarse=PQ_K,
            m=PQ_M,
            k_sub=PQ_K,
            iters=PQ_ITERS,
        )
        append_to_ivf_pq_index(
            corpus.filter(F.col("vec_id") % 10 == 7), path
        )
        path = _index_built(path)
    return ivf_pq_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=PQ_TOPK
    )


# ADC-then-refine (r11): the SAME chained IVF-PQ recipe cut at
# 4×k candidates, re-scored with exact vectors (the verified
# brute-force cosine form) and re-ranked — both stages' tiebreaks
# mirror the Spark operator exactly
EMB_IVF_PQ_REFINE_TOPK_SQL = (
    "WITH "
    + ",\n".join(_IVFPQ_PARTS)
    + f""",
rtop AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ac DESC, vec_id ASC
    ) AS r FROM fin
  ) WHERE r <= {PQ_TOPK * 4}
),
rex AS (
  SELECT t.query_id, t.vec_id,
         round(list_cosine_similarity(b.ev, q.qv), 6) AS cosine
  FROM rtop t JOIN base b USING (vec_id) JOIN q USING (query_id)
)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
  ) AS rank FROM rex
) WHERE rank <= {PQ_TOPK}"""
)


@query("emb_ivf_pq_refine_topk", oracle=EMB_IVF_PQ_REFINE_TOPK_SQL)
def q_emb_ivf_pq_refine_topk(spark, sf_dir):
    """ADC-then-refine over the persisted IVF-PQ index (round 11;
    operators.ann_index.ivf_pq_refine_topk — the FAISS IndexRefine
    stage): the codes-only partition-pruned probe ranks a 4×k
    candidate pool, whose exact vectors are fetched with a broadcast
    candidate-list semi-join (|queries|·4·k rows — never the corpus)
    and re-ranked by exact cosine. Shares the cached "ivfpq" index
    with emb_ivf_pq_index_topk. The oracle composes the verified
    IVF-PQ ADC chain (top-4k cut) with the verified exact-cosine
    re-rank recipe — a full value-hash proof of both stages chained."""
    corpus = _t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path(
        "ivfpq", sf_dir, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
    )
    if needs_build:
        build_ivf_pq_index(
            corpus, path, k_coarse=PQ_K, m=PQ_M, k_sub=PQ_K, iters=PQ_ITERS
        )
        path = _index_built(path)
    return ivf_pq_refine_topk(
        spark, path, corpus, queries,
        nprobe=2, k_neighbors=PQ_TOPK, refine_factor=4,
    )


_EXACT_TOPK = """WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, vec_id ASC
         ) AS rank
  FROM c, q
)
SELECT query_id, vec_id FROM ranked WHERE rank <= 5"""

EMB_ANN_RECALL_SQL = f"""WITH exact AS ({_EXACT_TOPK}),
approx AS ({_ivf_kmeans_sql(k=4, iters=2, nprobe=2, topk=5)})
SELECT e.query_id,
  CAST(count(a.vec_id) AS BIGINT) AS n_hits,
  CAST(count(a.vec_id) AS DOUBLE) / 5.0 AS recall
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id"""


@query("emb_ann_recall", oracle=EMB_ANN_RECALL_SQL)
def q_emb_ann_recall(spark, sf_dir):
    """Recall@5 of the end-to-end IVF-kmeans ANN against brute-force
    exact top-5 (operators.similarity.topk_recall) — the quality gate
    for the approximate path, with BOTH pipelines inside one
    value-hash comparison."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embs, queries, k=5)
    approx = ivf_topk(embs, queries, kmeans_fit(embs, k=4, iters=2), k=5, nprobe=2)
    return topk_recall(exact, approx, k=5)


# Codes replay embedding_quantize's proven formula (exact double
# steps, floor of a correctly-rounded division); the ADC dot is
# integers-in-double (255^2*64 << 2^53) so CAST to BIGINT is exact.
EMB_SQ_TOPK_SQL = """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
x AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS p FROM v),
s AS (SELECT p, CAST(min(x) AS DOUBLE) AS mn, CAST(max(x) AS DOUBLE) AS mx FROM x GROUP BY p),
codes AS (
  SELECT vec_id,
         list(CASE WHEN mx = mn THEN 0
                   ELSE LEAST(255, GREATEST(0, CAST(FLOOR((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0) AS INTEGER)))
              END ORDER BY p) AS c
  FROM x JOIN s USING (p) GROUP BY vec_id
),
cc AS (SELECT vec_id, list_transform(c, y -> CAST(y - 128 AS DOUBLE)) AS c FROM codes),
qc AS (SELECT vec_id AS query_id, c FROM cc WHERE vec_id % 100 = 0),
adc AS (
  SELECT qc.query_id, cc.vec_id,
         CAST(list_dot_product(cc.c, qc.c) AS BIGINT) AS adc
  FROM cc CROSS JOIN qc
),
cand AS (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS r
  FROM adc
),
qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 100 = 0),
rer AS (
  SELECT cd.query_id, cd.vec_id, cd.adc,
         round(list_cosine_similarity(CAST(v2.embedding AS DOUBLE[]), qv.qv), 6) AS cosine
  FROM cand cd
  JOIN embeddings v2 ON cd.vec_id = v2.vec_id
  JOIN qv ON cd.query_id = qv.query_id
  WHERE cd.r <= 20
),
ranked AS (
  SELECT query_id, vec_id, adc, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM rer
)
SELECT query_id, vec_id, adc, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""


@query("emb_sq_topk", oracle=EMB_SQ_TOPK_SQL)
def q_emb_sq_topk(spark, sf_dir):
    """Two-stage scalar-quantized ANN: uint8 ADC candidate top-20
    (exact integer dot of code arrays), exact-cosine re-rank top-5
    (operators.embeddings.sq_topk)."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq_topk(embs, queries, m=20, k=5)


EMB_PREFIX_TOPK_SQL = """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_cosine_similarity(cv[1:8], qv[1:8]), 6) AS prefix_cosine
  FROM c CROSS JOIN q
),
cand AS (
  SELECT query_id, vec_id, prefix_cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY prefix_cosine DESC, vec_id ASC) AS r
  FROM scored
),
rer AS (
  SELECT cd.query_id, cd.vec_id, cd.prefix_cosine,
         round(list_cosine_similarity(c.cv, q.qv), 6) AS cosine
  FROM cand cd JOIN c ON cd.vec_id = c.vec_id JOIN q ON cd.query_id = q.query_id
  WHERE cd.r <= 20
),
ranked AS (
  SELECT query_id, vec_id, prefix_cosine, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM rer
)
SELECT query_id, vec_id, prefix_cosine, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""


@query("emb_prefix_topk", oracle=EMB_PREFIX_TOPK_SQL)
def q_emb_prefix_topk(spark, sf_dir):
    """Matryoshka-style two-stage ANN: candidate generation on the
    first 8 dimensions, full-64-dim exact re-rank
    (operators.similarity.prefix_topk)."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return prefix_topk(embs, queries, prefix_dims=8, m=20, k=5)


EMB_SILHOUETTE_SQL = f"""WITH {_KPARTS},
af AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
),
dists AS (
  SELECT a.vec_id, a.centroid_id, c.centroid_id AS cid,
    1.0 - round(list_cosine_similarity(CAST(a.e AS DOUBLE[]), c.cv), 6) AS d
  FROM af a CROSS JOIN c2 c
),
pp AS (
  SELECT vec_id, centroid_id,
    MAX(CASE WHEN cid = centroid_id THEN d END) AS a,
    MIN(CASE WHEN cid <> centroid_id THEN d END) AS b
  FROM dists GROUP BY vec_id, centroid_id
),
t AS (
  SELECT centroid_id,
    CAST(round((b - a) / GREATEST(a, b), 9) AS DECIMAL(19,9)) AS s
  FROM pp
)
SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 9) AS mean_silhouette
FROM t GROUP BY centroid_id"""


@query("emb_silhouette", oracle=EMB_SILHOUETTE_SQL)
def q_emb_silhouette(spark, sf_dir):
    """Simplified silhouette per k-means cluster (distances to
    centroids, not pairwise — the O(n·k) variant that scales):
    s = (b − a)/max(a, b) with a = cosine distance to own centroid,
    b = min distance to any other; per-point terms rounded 9 and
    decimal-summed into per-cluster means."""
    embs = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(embs, k=4, iters=2).localCheckpoint(eager=True)
    assigned = ivf_assign(embs, cents)
    dists = assigned.withColumn("__vn2", norm2(F.col("embedding"))).crossJoin(
        F.broadcast(
            cents.select(
                F.col("centroid_id").alias("cid"),
                F.col("centroid"),
                norm2(F.col("centroid")).alias("__cn2"),
            )
        )
    ).select(
        "vec_id",
        "centroid_id",
        "cid",
        (
            F.lit(1.0)
            - F.round(
                cosine_sim_hoisted(
                    dot(F.col("embedding"), F.col("centroid")),
                    F.col("__vn2"),
                    F.col("__cn2"),
                ),
                6,
            )
        ).alias("d"),
    )
    per_point = dists.groupBy("vec_id", "centroid_id").agg(
        F.max(F.when(F.col("cid") == F.col("centroid_id"), F.col("d"))).alias(
            "a"
        ),
        F.min(F.when(F.col("cid") != F.col("centroid_id"), F.col("d"))).alias(
            "b"
        ),
    )
    s = F.round(
        (F.col("b") - F.col("a")) / F.greatest("a", "b"), 9
    ).cast("decimal(19,9)")
    return (
        per_point.withColumn("__s", s)
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(
                F.sum("__s").cast("double") / F.count(F.lit(1)), 9
            ).alias("mean_silhouette"),
        )
        .select(
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            "n_points",
            "mean_silhouette",
        )
    )


EMB_IVF_INDEX_TOPK_SQL = _ivf_kmeans_sql(
    k=4, iters=2, nprobe=2, topk=5
)


@query("emb_ivf_index_topk", oracle=EMB_IVF_INDEX_TOPK_SQL)
def q_emb_ivf_index_topk(spark, sf_dir):
    """Persistent-index ANN round trip: fit + assign + WRITE the
    corpus partitionBy(centroid_id), then probe through the
    partition-pruned scan (operators.ann_index). Must hash-match the
    same chained kmeans→IVF oracle as the in-plan operator — proving
    the disk round trip changes nothing but the scan shape.

    Deterministic per-(sf_dir, params) index path, built only when
    absent — see :func:`_index_path`."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path("ivf", sf_dir, k=4, iters=2)
    if needs_build:
        build_ivf_index(embs, path, k=4, iters=2)
        path = _index_built(path)
    return ivf_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=5
    ).select(
        "query_id",
        "vec_id",
        F.col("approx_cosine").alias("cosine"),
        "rank",
    )


EMB_IVF_INDEX_APPEND_TOPK_SQL = _ivf_kmeans_append_sql(
    k=4, iters=2, nprobe=2, topk=5
)


@query("emb_ivf_index_append_topk", oracle=EMB_IVF_INDEX_APPEND_TOPK_SQL)
def q_emb_ivf_index_append_topk(spark, sf_dir):
    """Incremental-append round trip for the persisted IVF index
    (round 10, operators.ann_index.append_to_ivf_index):
    build the index on the 90% base split (vec_id % 10 != 7),
    APPEND the held-out 10% batch with the frozen sidecar centroids —
    no retrain, batch-sized work only — then probe over everything.
    The oracle (`_ivf_kmeans_append_sql`) trains kmeans on the base
    split and assigns/scores the FULL corpus, so the value-hash match
    proves append ≡ from-scratch rebuild of base ∪ batch under
    base-trained artifacts: append changes WHERE rows land, never a
    value. A half-built cache (crash anywhere before the _complete
    stamp, including between build and append) rebuilds."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path, needs_build = _index_path("ivf_app", sf_dir, k=4, iters=2)
    if needs_build:
        build_ivf_index(
            embs.filter(F.col("vec_id") % 10 != 7), path, k=4, iters=2
        )
        append_to_ivf_index(embs.filter(F.col("vec_id") % 10 == 7), path)
        path = _index_built(path)
    return ivf_index_topk(
        spark, path, queries, nprobe=2, k_neighbors=5
    ).select(
        "query_id",
        "vec_id",
        F.col("approx_cosine").alias("cosine"),
        "rank",
    )


# exact + lossy-prefix approximate + the metric, one chained oracle;
# the harmonic discount keeps every term a correctly-rounded
# small-integer division (no libm), per-term round(.,9) + decimal
# sums make the score engine-exact, ideal embedded as a literal
EMB_PREFIX_NDCG_SQL = f"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 100 = 0),
exact AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, c.vec_id ASC
           ) AS rank
    FROM c CROSS JOIN q
  ) WHERE rank <= 5
),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_cosine_similarity(cv[1:8], qv[1:8]), 6) AS prefix_cosine
  FROM c CROSS JOIN q
),
cand AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY prefix_cosine DESC, vec_id ASC) AS r
  FROM scored
),
rer AS (
  SELECT cd.query_id, cd.vec_id,
         round(list_cosine_similarity(c.cv, q.qv), 6) AS cosine
  FROM cand cd JOIN c ON cd.vec_id = c.vec_id JOIN q ON cd.query_id = q.query_id
  WHERE cd.r <= 5
),
approx AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM rer
  ) WHERE rank <= 5
),
terms AS (
  SELECT a.query_id,
         CAST(round(
           (CASE WHEN e.rank IS NOT NULL THEN 6.0 - e.rank ELSE 0.0 END)
           / (a.rank + 1.0), 9) AS DECIMAL(19,9)) AS term
  FROM approx a LEFT JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
),
perq AS (
  SELECT query_id, round(CAST(SUM(term) AS DOUBLE) / {ndcg_ideal(5)!r}, 6) AS ndcg
  FROM terms GROUP BY query_id
),
allq AS (
  SELECT query_id FROM exact UNION SELECT query_id FROM approx
)
SELECT allq.query_id, COALESCE(perq.ndcg, 0.0) AS ndcg
FROM allq LEFT JOIN perq USING (query_id)"""


@query("emb_prefix_ndcg", oracle=EMB_PREFIX_NDCG_SQL)
def q_emb_prefix_ndcg(spark, sf_dir):
    """Rank-quality (harmonic-discount nDCG@5) of the Matryoshka
    prefix pipeline run LOSSY (candidate m=5 — no re-rank slack)
    against exact top-5: both search pipelines AND the metric inside
    one value-hash comparison (operators.similarity.ndcg_at_k)."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embs, queries, k=5)
    approx = prefix_topk(embs, queries, prefix_dims=8, m=5, k=5)
    return ndcg_at_k(exact, approx, k=5)


_CENT = "c2"

EMB_DIVERSE_SAMPLE_SQL = f"""WITH {_KPARTS},
fassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN {_CENT} c
  ) WHERE r = 1
)
SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
       CAST(quota_rank AS BIGINT) AS quota_rank
FROM (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY centroid_id ORDER BY vec_id ASC)
           AS quota_rank
  FROM fassign
) WHERE quota_rank <= 10"""


@query("emb_diverse_sample", oracle=EMB_DIVERSE_SAMPLE_SQL)
def q_emb_diverse_sample(spark, sf_dir):
    """Diversity-aware selection: equal per-cluster quotas from the
    engine's own k-means fit (operators/sampling.py diverse_sample)."""
    return diverse_sample(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2, per_cluster=10
    )


# Hard-negative mining (r5): brute-force cosine top-k restricted to
# different-label candidates. Same rounded-cosine + id tiebreak
# convention as similarity_topk.
EMB_HARD_NEGATIVES_SQL = """WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, vec_id, CAST(label AS BIGINT) AS neg_label,
         round(list_cosine_similarity(cv, qv), 6) AS cosine
  FROM c, q WHERE label <> qlabel
),
ranked AS (
  SELECT query_id, vec_id, neg_label, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, neg_label, cosine, rank FROM ranked WHERE rank <= 5"""


@query("emb_hard_negatives", oracle=EMB_HARD_NEGATIVES_SQL)
def q_emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per query vector,
    the top-5 most-similar corpus vectors with a DIFFERENT label — the
    near-boundary negatives a retrieval/contrastive trainer batches
    (operators/similarity.py hard_negatives)."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return hard_negatives(embs, queries, k=5)


# Leave-one-out kNN label accuracy (r5): neighbor ties break on
# (rounded cosine DESC, id ASC); vote ties on (count DESC, label
# ASC); accuracy is one IEEE division of exact small integers.
EMB_KNN_ACCURACY_SQL = """WITH p AS (
  SELECT vec_id AS probe_id, label AS plabel,
         CAST(embedding AS DOUBLE[]) AS pv
  FROM embeddings WHERE vec_id % 20 = 0
),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT probe_id, plabel, vec_id, label,
         round(list_cosine_similarity(cv, pv), 6) AS cos
  FROM c, p WHERE vec_id <> probe_id
),
topk AS (
  SELECT * FROM (
    SELECT probe_id, plabel, label,
           row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC) AS r
    FROM scored
  ) WHERE r <= 5
),
votes AS (
  SELECT probe_id, plabel, label, count(*) AS votes
  FROM topk GROUP BY 1, 2, 3
),
pred AS (
  SELECT probe_id, plabel, label AS pred_label FROM (
    SELECT probe_id, plabel, label, votes,
           row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, label ASC) AS r
    FROM votes
  ) WHERE r = 1
)
SELECT CAST(plabel AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN pred_label = plabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN pred_label = plabel THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accuracy
FROM pred GROUP BY 1"""


@query("emb_knn_accuracy", oracle=EMB_KNN_ACCURACY_SQL)
def q_emb_knn_accuracy(spark, sf_dir):
    """Leave-one-out kNN label-consistency eval: per-label accuracy of
    majority-vote over each probe's 5 nearest neighbors (self excluded)
    — the standard embedding-space class-separation benchmark
    (operators/similarity.py knn_label_accuracy)."""
    embs = _t(spark, sf_dir, "embeddings")
    probes = embs.filter(F.col("vec_id") % 20 == 0)
    return knn_label_accuracy(embs, probes, k=5)


# prototypicality: the kmeans CTE chain supplies the centroids; the
# assignment argmax (unrounded sim, centroid-id-asc ties) is the
# verified fassign recipe of _ivf_kmeans_sql, keeping the rounded
# cosine as the signal
EMB_PROTOTYPICALITY_SQL = f"""WITH {_KPARTS},
pr_a AS (
  SELECT vec_id, centroid_id,
         round(list_cosine_similarity(CAST(e AS DOUBLE[]), cv), 6) AS proto_cos
  FROM (
    SELECT v.vec_id, v.e, c.centroid_id, c.cv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
)
SELECT vec_id, centroid_id, proto_cos,
  CAST(proto_cos >= 0.35 AS INTEGER) AS prototypical
FROM pr_a"""


@query("emb_prototypicality", oracle=EMB_PROTOTYPICALITY_SQL)
def q_emb_prototypicality(spark, sf_dir):
    """SSL-prototypes pruning signal (round 12;
    operators.kmeans.prototypicality): per-vector cosine to the
    assigned k-means centroid with a threshold flag (Sorcher et al.
    2022 data-pruning metric — prune cluster-redundant mass, keep the
    hard tail). Centroids from the verified kmeans_fit (k=4, iters=2);
    the oracle chains the same kmeans CTEs into the fassign argmax,
    keeping the rounded cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    out = prototypicality(emb, kmeans_fit(emb, k=4, iters=2), threshold=0.35)
    return out.select(
        "vec_id",
        "centroid_id",
        "proto_cos",
        F.col("prototypical").cast("int").alias("prototypical"),
    )


_CP_MEAN = split_cast_double_sql("cp.s", 6)

# cluster-health report: the same chain aggregated to k rows, with
# the decimal-exact mean recipe and the empty-cluster spine
EMB_CLUSTER_PROFILE_SQL = f"""WITH {_KPARTS},
pr_a AS (
  SELECT vec_id, centroid_id,
         round(list_cosine_similarity(CAST(e AS DOUBLE[]), cv), 6) AS proto_cos
  FROM (
    SELECT v.vec_id, v.e, c.centroid_id, c.cv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(CAST(v.e AS DOUBLE[]), c.cv) DESC,
                      c.centroid_id ASC
           ) AS r
    FROM v CROSS JOIN c2 c
  ) WHERE r = 1
),
cp AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(proto_cos AS DECIMAL(20,6))) AS s,
         CAST(sum(CASE WHEN proto_cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM pr_a GROUP BY 1
)
SELECT c.centroid_id,
  CAST(coalesce(cp.n, 0) AS BIGINT) AS n_members,
  CASE WHEN cp.n > 0 THEN {_CP_MEAN} / CAST(cp.n AS DOUBLE) END AS mean_cos,
  CASE WHEN cp.n > 0 THEN CAST(cp.np AS DOUBLE) / CAST(cp.n AS DOUBLE) END
    AS proto_frac
FROM c2 c LEFT JOIN cp USING (centroid_id)"""


@query("emb_cluster_profile", oracle=EMB_CLUSTER_PROFILE_SQL)
def q_emb_cluster_profile(spark, sf_dir):
    """Per-cluster curation report (round 12;
    operators.kmeans.cluster_profile): member count, decimal-exact
    mean cosine-to-centroid, and prototypical fraction per k-means
    cluster — the audit row cluster-balanced curation reads before
    setting per-cluster keep rates. Empty clusters are reported rows
    (spine left join), never absent ones. The oracle aggregates the
    same prototypicality chain with split_cast_double's exact mean."""
    emb = _t(spark, sf_dir, "embeddings")
    return cluster_profile(
        emb, kmeans_fit(emb, k=4, iters=2), threshold=0.35
    )
