"""Document deduplication operators for training-data pipelines.

Four families, each chosen for a different scale/accuracy point:

* ``exact_dedup``          — SHA-256 fingerprint groupBy. One shuffle of
                             (hash, id); map-side combine collapses dups early.
* ``ngram_jaccard_pairs``  — exact word-shingle Jaccard over an inverted
                             index (explode → self-join on shingle). Rare
                             shingles only (docfreq cap) to bound the join
                             fan-out; exact verification included.
* ``minhash_lsh_pairs``    — MinHash signatures + banded LSH: candidate
                             pairs meet only inside a band bucket, so the
                             quadratic blowup never materializes; candidates
                             are verified with exact Jaccard. The scale path
                             for 10^9+ docs.
* ``simhash64``            — 64-bit SimHash per document via a vectorized
                             Arrow pandas_udf (numpy bit-bucketing), plus
                             ``simhash_dup_pairs`` joining on exact signature
                             equality.
* ``embedding_dup_pairs``  — cosine near-duplicates over an embedding
                             column; random-hyperplane LSH bucketing with
                             exact cosine verification.

MinHash permutations are lexicographic MINs over fixed hex slices of
``sha256(s) ++ sha256(s||'#')`` — deterministic, engine-portable (the
DuckDB oracle computes the identical signature), free of any Python-side
RNG, and costing exactly two hashes per shingle regardless of num_perm.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pyelt_spark.functions.text import fingerprint


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (fingerprint, canonical_id, n_docs). Hash-groupBy — fully map-side
    combinable, no skew risk beyond genuinely duplicated content."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_docs"))
    )


def _shingle_rows_raw(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, _s) exploded shingles WITH positional duplicates, hash-
    partitioned by _id (the window's exchange).

    Fully codegen'd: posexplode the words, build each shingle with ``lead``
    window lookaheads. (The previous per-document higher-order ``transform``
    over a slice/concat lambda was INTERPRETED — 6.6 of the 9.3 bench
    seconds of dedup_minhash_lsh at sf0.1; memory rule: never put a HOF on
    the row-count hot path.) concat_ws skips the nulls lead produces past
    the document end, matching slice's short tail, and rows beyond index
    max(size-n, 0) are dropped. Duplicate-insensitive consumers (minhash
    min() aggregates grouped on _id) run on this WITHOUT another exchange —
    the window already partitioned by _id."""
    from pyspark.sql import Window

    from pyelt_spark.functions.text import normalized

    toks = F.split(normalized(text_col), " ")
    words = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(toks).alias("_p", "_w"),
    )
    w = Window.partitionBy("_id").orderBy("_p")
    shingle = F.concat_ws(
        " ", F.col("_w"), *[F.lead("_w", k).over(w) for k in range(1, n)]
    )
    # completeness test from the WINDOW's own output (last lead non-null),
    # not from a token count: a `size(split(normalized(text)))` column here
    # gets inlined by CollapseProject into the post-explode filter and
    # re-runs the regex normalization PER EXPLODED ROW (~50× per doc — it
    # was 3 of dedup_minhash_lsh's 6 bench seconds at sf0.1). `_p = 0`
    # keeps the one short shingle of a document with fewer than n words,
    # matching slice()'s max(size-n,0) tail rule.
    return (
        words.select(
            "_id",
            "_p",
            shingle.alias("_s"),
            F.lead("_w", n - 1).over(w).alias("_last"),
        )
        .filter((F.col("_p") == 0) | F.col("_last").isNotNull())
        .select("_id", "_s")
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, _s) exploded DISTINCT shingles — the set form exact-Jaccard
    verification works from (set semantics: duplicates would inflate
    intersections). Output set identical to ``explode(shingles(text, n))``."""
    return _shingle_rows_raw(df, id_col, text_col, n).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.4,
    max_docfreq: int = 50,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via an inverted shingle index.

    Shingles shared by more than ``max_docfreq`` docs are dropped from the
    index (stopword-shingle fan-out guard — at web scale one hot shingle
    otherwise produces a quadratic bucket). Pair Jaccard uses full shingle
    sets, so the cap only bounds candidate GENERATION, not verification.
    """
    sh_rows = _shingle_rows(df, id_col, text_col, n).persist()
    # count-only aggregate → rare-shingle set → semi-join → self-join. No
    # per-shingle id arrays anywhere: a hot shingle shared by millions of
    # docs costs one counter in the aggregate, not an id-list buffer
    # (ADVICE r1 — collect_list before the filter was the OOM path).
    #
    # |A∩B| comes straight off the self-join: shingle sets are distinct
    # per doc, so the join emits EXACTLY one row per shared rare shingle
    # and a count aggregate over it is the rare-side intersection — the
    # former per-pair verification re-join expanded every candidate pair
    # by its full shingle set (|pairs|x|shingles/doc| rows; 59M at sf0.1,
    # ~200 CPU-s) to recount what this join had already seen. Only HOT
    # shingles (df > cap, excluded from the index, still part of the
    # oracle's full-set Jaccard) go through a pair join — bounded by
    # candidate pairs x hot-shingles-per-doc, and empty whenever no
    # shingle exceeds the cap.
    freq = sh_rows.groupBy("_s").agg(F.count("*").alias("_df"))
    rare = freq.filter(F.col("_df") <= max_docfreq).select("_s")
    idx = sh_rows.join(rare, "_s", "left_semi")
    pairs = (
        idx.alias("x")
        .join(idx.alias("y"), "_s")
        .filter(F.col("x._id") < F.col("y._id"))
        .groupBy(F.col("x._id").alias("a"), F.col("y._id").alias("b"))
        .agg(F.count("*").alias("_ir"))
    )
    hot = freq.filter(F.col("_df") > max_docfreq).select("_s")
    hot_rows = sh_rows.join(hot, "_s", "left_semi")
    Ha = hot_rows.select(F.col("_id").alias("a"), "_s")
    Hb = hot_rows.select(F.col("_id").alias("b"), "_s")
    inter_hot = (
        pairs.select("a", "b")
        .join(Ha, "a")
        .join(Hb, ["b", "_s"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("_ih"))
    )
    sizes = sh_rows.groupBy("_id").agg(F.count("*").alias("_n"))
    sa = sizes.select(F.col("_id").alias("a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("b"), F.col("_n").alias("_nb"))
    return (
        pairs.join(inter_hot, ["a", "b"], "left")
        .withColumn("_inter", F.col("_ir") + F.coalesce(F.col("_ih"), F.lit(0)))
        .join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.col("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    Fully relational dataflow (shingles explode once per doc; everything
    after is codegen'd joins/aggregates): sha the shingle rows, take the
    12 per-permutation MINs as map-side-combinable ``min()`` aggregates,
    bucket by band sub-signature, self-join buckets for candidates, verify
    with exact Jaccard. Output equals the exact pair set restricted to
    LSH-recalled candidates.

    Shuffle discipline (the 100×-scale shape AND the sf0.1 wall — AQE runs
    one materialization round per exchange, so exchange COUNT is latency):
    ONE deduped (_id, _hx) lineage, cached, feeds everything downstream.
    The window's hash(_id) exchange is the only full-table shuffle:
    per-doc shingle dedup (groupBy _id,_hx), the signature aggregate
    (groupBy _id — which also emits each doc's distinct-shingle COUNT, so
    verification needs no separate sizes pass), and both verify join
    inputs all reuse that partitioning. The shingle hash ``_hx`` IS the
    shingle identity in verification (sha-256 injective in practice), so
    shingle strings never cross a shuffle. Candidate pairs and the
    verify-join intermediates are orders of magnitude smaller than the
    corpus; AQE broadcasts them.
    """
    assert num_perm <= 12
    rows_per_band = num_perm // bands
    # Distinct BEFORE hashing, and cache the raw shingle string: the dedup
    # aggregate then hashes/compares ~25-char shingles instead of 128-char
    # hex, and the cached lineage is ~5x narrower (guide §2.3: shuffle
    # fewer bytes — the distinct reuses the window's hash(_id)
    # partitioning, so this IS its shuffle). The sha pair is computed once,
    # in the signature aggregate's input projection; the verify joins use
    # an 8-byte xxhash64 of the shingle as its identity instead of the
    # 128-char hex (injective in practice, same role the sha hex played).
    dist = (
        _shingle_rows_raw(df, id_col, text_col, n)
        .distinct()  # per-doc set semantics; no exchange (hash(_id) ⊆ keys)
        .persist()
    )
    sig = dist.select(
        "_id",
        F.concat(
            F.sha2(F.col("_s"), 256), F.sha2(F.concat(F.col("_s"), F.lit("#")), 256)
        ).alias("_hx"),
    ).groupBy("_id").agg(
        *[
            F.min(F.substring("_hx", 1 + 10 * i, 10)).alias(f"_m{i}")
            for i in range(num_perm)
        ],
        F.count("*").alias("_n"),
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"_m{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    buckets = sig.select("_id", "_n", F.explode(F.array(*band_cols)).alias("_b")).select(
        "_id", "_n", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key")
    )
    # NO distinct on candidates: a pair matching in k bands rides through
    # the verify joins k times (k ≤ bands, a small constant) and collapses
    # in the (a,b) aggregate — count_distinct(_hx) keeps |A∩B| exact under
    # the duplication. This trades a bounded constant-factor join fan-out
    # for eliminating a full exchange+AQE round over the candidate multiset.
    #
    # The per-doc distinct-shingle counts ride THROUGH the bucket rows into
    # the candidate pairs (functionally dependent on a/b, collapsed by
    # min() in the pair aggregate), so verification needs no trailing size
    # joins — two broadcast joins plus a re-aggregation of the cached
    # shingle lineage removed from the tail of the plan.
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["_band", "_key"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("a"), F.col("y._id").alias("b"),
            F.col("x._n").alias("_na"), F.col("y._n").alias("_nb"),
        )
    )
    A = dist.select(F.col("_id").alias("a"), F.xxhash64("_s").alias("_h8"))
    B = dist.select(F.col("_id").alias("b"), F.xxhash64("_s").alias("_h8"))
    # the pair list and the candidate-doc id set are candidate-bounded
    # (banded LSH bounds the fan-out — module docstring); broadcasting
    # them keeps both corpus-sized shingle sides out of every exchange
    # (broadcast hash join against A; semi-join restriction of B), so the
    # one shuffled join below carries only candidate-doc shingles — and
    # the pre-shuffle AQE materialization rounds the full-side exchanges
    # would cost disappear from the cold wall.
    b_docs = cand.select(F.col("b").alias("_id")).distinct()
    common = (
        F.broadcast(cand)
        .join(A, "a")
        .join(B.join(F.broadcast(b_docs), B["b"] == b_docs["_id"], "left_semi"),
              ["b", "_h8"])
        .groupBy("a", "b")
        .agg(
            F.count_distinct("_h8").alias("_inter"),
            F.min("_na").alias("_na"),
            F.min("_nb").alias("_nb"),
        )
    )
    return (
        common
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.col("jaccard"))
    )


@pandas_udf(T.LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """Vectorized 64-bit SimHash (Arrow batches; numpy inside)."""
    import hashlib

    import numpy as np

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if t is None:
            continue
        toks = str(t).lower().split()
        if not toks:
            continue
        acc = np.zeros(64, dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        for tok in toks:
            h = np.uint64(
                int.from_bytes(hashlib.sha256(tok.encode()).digest()[:8], "big")
            )
            bits = ((h >> shifts) & np.uint64(1)).astype(np.int64)
            acc += bits * 2 - 1
        sig = np.uint64(0)
        sig = (((acc > 0).astype(np.uint64)) << shifts).sum(dtype=np.uint64)
        out[i] = np.int64(sig.astype(np.int64))
    return pd.Series(out)


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return df.select(F.col(id_col), _simhash64(F.col(text_col)).alias("simhash"))


def simhash_hex(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash as 16 lowercase hex chars — ALL-JVM relational form.

    Same signature as the pandas_udf ``_simhash64`` (bit-identity covered by
    test_docops), but expressed as explode → sha2 → 64 codegen'd bit-sum
    aggregates: no Python in the hot path, map-side partial aggregation
    collapses each document's token contributions before the shuffle, and a
    DuckDB oracle can compute the identical signature (the reason the driver
    query is now value-checked instead of rows-only).

    Bit layout matches ``_simhash64``: token hash h = first 16 hex chars of
    sha256(token); bit b (0 = LSB) lives in hex position 16 - b//4 at
    in-nibble shift b%4; signature bit b = 1 iff sum over tokens of
    (2·bit−1) > 0.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_t"),
    ).filter(F.col("_t") != "")
    h = toks.withColumn("_h", F.substring(F.sha2(F.col("_t"), 256), 1, 16))
    nib = [
        F.conv(F.substring("_h", pos, 1), 16, 10).cast("int") for pos in range(1, 17)
    ]
    sums = [
        F.sum(
            F.shiftright(nib[15 - b // 4], b % 4).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"_b{b}")
        for b in range(64)
    ]
    agg = h.groupBy(id_col).agg(*sums)
    digits = [
        F.lower(
            F.conv(
                sum(
                    F.when(F.col(f"_b{4 * (16 - i) + k}") > 0, F.lit(1 << k)).otherwise(
                        F.lit(0)
                    )
                    for k in range(4)
                ).cast("string"),
                10,
                16,
            )
        )
        for i in range(1, 17)
    ]
    return agg.select(F.col(id_col), F.concat(*digits).alias("simhash"))


def simhash_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """DuckDB twin of ``simhash_hex`` (identical bit layout)."""
    nib = {
        pos: f"(strpos('0123456789abcdef', substr(hx, {pos}, 1)) - 1)"
        for pos in range(1, 17)
    }
    sums = ",\n    ".join(
        f"sum((({nib[16 - b // 4]} >> {b % 4}) & 1) * 2 - 1) AS b{b}"
        for b in range(64)
    )
    digits = ", ".join(
        "substr('0123456789abcdef', 1 + "
        + " + ".join(f"(CASE WHEN b{4 * (16 - i) + k} > 0 THEN {1 << k} ELSE 0 END)"
                     for k in range(4))
        + ", 1)"
        for i in range(1, 17)
    )
    return f"""
WITH t AS (
  SELECT {id_col},
    unnest(list_filter(regexp_split_to_array(lower({text_col}), '\\s+'), x -> x <> '')) AS tok
  FROM {table}
),
h AS (SELECT {id_col}, substr(sha256(tok), 1, 16) AS hx FROM t),
agg AS (
  SELECT {id_col},
    {sums}
  FROM h GROUP BY {id_col}
)
SELECT {id_col}, concat({digits}) AS simhash FROM agg
"""


def simhash_dup_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pairs with identical SimHash (hamming distance 0 — bucket join;
    hamming<=k variants bucket on signature chunks the same way)."""
    s = simhash64(df, id_col, text_col)
    a = s.select(F.col(id_col).alias("doc_a"), F.col("simhash"))
    b = s.select(F.col(id_col).alias("doc_b"), F.col("simhash"))
    return a.join(b, "simhash").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "simhash"
    )


def dedup_clusters(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pair edges → one canonical doc per
    duplicate cluster: (doc_id, canonical_id = min id in the component).

    Pair operators emit EDGES; a real dedup pipeline needs the CLUSTERS
    (transitively: A≈B, B≈C ⇒ keep one of {A,B,C}). Iterative min-label
    propagation: each round every node takes the minimum label among itself
    and its neighbors; converges in O(component diameter) rounds — for
    near-dup clusters (dense, star-like around a template) the diameter is
    tiny, so a handful of joins settles web-scale inputs. Each round is one
    shuffle join + one aggregate; labels persist round-to-round so lineage
    stays flat. (The large-star/small-star variant halves rounds on
    pathological chains; diameter-bounded propagation is the simple,
    sufficient form here.) Nodes with no edge never enter — singletons are
    their own canonical by definition and need no compute.
    """
    # materialize the pair list ONCE before symmetrizing: the union's two
    # branches otherwise re-execute the whole upstream pair pipeline (the
    # broadcast-join verify has no exchange boundary Spark could reuse
    # across branches — measured at sf1.0: 9.9 s edge materialization vs
    # 3.5 s for one pairs pass), and the pair list is candidate-bounded
    e = pairs.select(F.col(a).alias("x"), F.col(b).alias("y")).persist()
    # No distinct() on the symmetrized edge list: every consumer is a
    # min-aggregate (directly, or through a join whose fan-out feeds a
    # min), and min over a multiset equals min over its set — duplicate
    # edges cost bounded join fan-out, never correctness. Dropping the
    # dedup removes a full exchange (and its AQE round) from the edge
    # materialization; inputs with heavy pair duplication should dedup
    # upstream.
    edges = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y"))).persist()
    # localCheckpoint (not persist): each round's plan references the
    # previous labels twice (self rows + neighbor join), so an uncut
    # lineage doubles per round — 2^rounds plan nodes took the driver down
    # on a long chain. Checkpointing truncates to the materialized RDD:
    # O(1) plan per round. (On a multi-executor cluster prefer reliable
    # checkpoint(dir) if executor loss mid-loop must be survivable.)
    #
    # ONE Spark job per round: the convergence check is fused into the
    # propagation aggregate as a per-row changed flag (every node carries a
    # tagged self row, so old-vs-new is computable inside the groupBy), and
    # the checkpoint is LAZY — the global sum(_chg) action is what
    # materializes it, all partitions in the same job. The previous shape
    # (eager checkpoint job + separate old-vs-new join + limit(1) count)
    # cost 2-3 jobs per round; at bench scale the rounds are
    # scheduler-latency-bound, so job count is the wall clock.
    #
    # Round 1 needs NO label join and no separate init pass: before any
    # propagation a neighbor's label IS its node id, so the first
    # propagation round is a single aggregate over the edge list —
    # label₁(x) = min(x, min(y : y∈N(x))) — fused with node discovery.
    # One aggregate replaces the eager init-checkpoint job plus round 1's
    # join (one full pass over the edges saved at any scale; at bench
    # scale, one fewer scheduler round-trip).
    labels = None
    for _ in range(max_iter):
        if labels is None:
            new = (
                edges.groupBy(F.col("x").alias("node"))
                .agg(F.min("y").alias("_nbr_min"))
                .select(
                    "node",
                    F.least(F.col("node"), F.col("_nbr_min")).alias("label"),
                    (F.col("_nbr_min") < F.col("node")).cast("long").alias("_chg"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            nbr = (
                edges.join(
                    labels.select(F.col("node").alias("y"), F.col("label")), "y"
                ).select(F.col("x").alias("node"), "label")
            )
            new = (
                labels.withColumn("_self", F.lit(True))
                .unionByName(nbr.withColumn("_self", F.lit(False)))
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("_self"), F.col("label"))).alias("_old"),
                )
                .withColumn("_chg", (F.col("label") != F.col("_old")).cast("long"))
                .localCheckpoint(eager=False)
            )
        # sum over zero rows is NULL (empty pair set) → converged
        changed = new.agg(F.sum("_chg")).first()[0] or 0
        labels = new.select("node", "label")
        if changed == 0:
            break
    else:
        # the loop exhausted max_iter with labels still moving: returning
        # silently would hand one duplicate cluster several canonical_ids
        # (and diverge from the exact recursive-CTE oracle). Fail loudly —
        # a component whose DIAMETER exceeds max_iter is pathological for
        # near-dup clusters (dense/star-like); callers raise max_iter
        # deliberately, not by accident (ADVICE r2).
        edges.unpersist()
        e.unpersist()
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iter={max_iter} "
            "label-propagation rounds (a component's diameter exceeds "
            "max_iter); raise max_iter"
        )
    edges.unpersist()
    e.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("canonical_id"))


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ANY word
    n-gram with the eval set (the standard n-gram-overlap contamination
    test for LLM training corpora). Relational form: both sides explode to
    distinct shingles; eval shingles (small side) broadcast/semi-join
    against the training shingle index, so cost is one pass over the train
    corpus regardless of how many eval docs match. Returns
    (doc_id, n_hits) for CONTAMINATED train docs (n_hits = number of
    distinct shared n-grams)."""
    tr = _shingle_rows(train, id_col, text_col, n)
    ev = _shingle_rows(evalset, id_col, text_col, n).select("_s").distinct()
    return (
        tr.join(ev, "_s", "left_semi")
        .groupBy("_id")
        .agg(F.count("*").alias("n_hits"))
        .select(F.col("_id").alias(id_col), "n_hits")
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 4,
    rows_per_band: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-duplicates via BANDED random-hyperplane LSH + exact verify.

    ``bands × rows_per_band`` hyperplanes (deterministic literal weights,
    operators/similarity.hyperplane_weights — engine-portable, no RNG, no
    libm dependence); each band's bit-substring is a bucket key, candidates
    meet only inside a (band, key) bucket — the minhash banding shape, so
    bucket count scales as bands·2^rows instead of one 2^planes table, and
    a near-dup pair survives if ANY band matches (recall 1-(1-p^r)^b).
    Candidates are verified with exact cosine; output ⊆ the brute-force
    pair set by construction, equal to it whenever every true pair shares
    ≥1 band (guaranteed-by-measurement for the near-identical duplicates
    this operator targets at threshold ≥0.95).
    """
    from pyelt_spark.operators.similarity import _cell_sig

    if dim is None:
        raise ValueError(
            "embedding_dup_pairs requires dim= (embedding width); the "
            "hyperplane weights are embedded as plan literals"
        )
    planes = bands * rows_per_band
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    base = df.select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        norm.alias("_n"),
        _cell_sig(v, dim, planes).alias("_sig"),
    ).persist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("_sig", 1 + b * rows_per_band, rows_per_band).alias("key"),
            )
            for b in range(bands)
        ]
    )
    buckets = base.select("_id", F.explode(band_structs).alias("_b")).select(
        "_id", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key")
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["_band", "_key"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .distinct()
    )
    a = base.select(F.col("_id").alias("doc_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = base.select(F.col("_id").alias("doc_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # broadcast the candidate-pair list into both verify joins: the vector
    # payloads then never cross an exchange (guide §3.3: don't ship heavy
    # array columns through a shuffled join), and the first join's output —
    # candidate-bounded, pairs x one vector — broadcasts into the second
    return (
        F.broadcast(F.broadcast(cand).join(a, "doc_a"))
        .join(b, "doc_b")
        .withColumn("cosine", F.round(dot / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )
