"""Exact set-similarity join via prefix filtering (PPJoin-style).

Complements the probabilistic near-dup stack (``operators/dedup.py``:
MinHash/LSH, SimHash) with an EXACT Jaccard-threshold join: every pair
with ``J(a, b) >= t`` is returned, none missed — the guarantee LSH can
only approach with more bands.  The algorithm is the prefix-filtering
family of Chaudhuri et al. (SSJoin, ICDE 2006) and Xiao et al. (PPJoin,
WWW 2008), public literature; the reference engine has no equivalent
(its only near-dup path is the pandas-side exact groupby in
``/root/reference/src/sf_datalake/utils.py``-adjacent tooling).

Scale design (the whole point of prefix filtering):
- A record of ``n`` distinct tokens keeps only its ``n - ceil(t*n) + 1``
  rarest tokens (global df order) as join keys — for t=0.7 that is ~30%
  of tokens; candidate generation is an equi-join on single tokens, a
  plain hash/sort-merge join, never an all-pairs product.
- The global order is (document frequency, token): rare tokens first, so
  prefix buckets are tiny exactly where a frequency-agnostic order would
  explode (stopwords land in the suffix and are never join keys).
- Length filter ``|b| >= ceil(t * |a|)`` prunes candidates before the
  verify join; verification rejoins the two (bounded) token arrays and
  computes exact Jaccard JVM-side (``array_intersect``), no Python.
- Shuffles carry (token, id, size) triples and token arrays only for
  surviving candidates — document text never moves.

Correctness of the filter (no false negatives) is property-tested
against a brute-force all-pairs Jaccard in ``tests/test_mining.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _prefix_len(t: float):
    """Prefix length n - ceil(t*n) + 1 as a JVM expression over ``n``.

    Any pair with J >= t shares at least one token within these
    prefixes under any fixed global token order (prefix-filter lemma:
    J >= t implies overlap >= t*max(|a|,|b|); if all common tokens sat
    outside a's prefix, overlap <= ceil(t*|a|) - 1 < t*|a|)."""
    return F.col("n") - F.ceil(F.col("n") * F.lit(t)).cast("int") + F.lit(1)


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    pin_lineage: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b) whose distinct-token Jaccard >= threshold.

    ``tokens_col`` is ``array<string>``; duplicates inside a record are
    collapsed (set semantics).  Returns ``id_a, id_b, inter_size,
    union_size, jaccard`` with jaccard an exact integer ratio.

    ``pin_lineage`` (default on) localCheckpoints the df-ordered token
    table so its scan+tokenize+dfreq subtree executes once instead of
    once per plan reference; pass ``False`` to keep the whole lineage
    lazy/visible (plan-shape tests assert scan pushdown through it —
    checkpointing hides the scan node from the FINAL plan without
    changing what was pushed when the subtree ran).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")

    sets = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(tokens_col)).alias("toks"),
    ).filter(F.size("toks") > 0)

    # Global order = (document frequency, token), materialized as a
    # DENSE INTEGER RANK per token (r11): the output carries only pair
    # ids and SIZES — token values never leave the operator — and the
    # rank map is an exact bijection, so intersect/union sizes are
    # bit-identical while every downstream join key and array element
    # becomes an int.  Measured at sf0.1 the verify phase (array
    # intersects over 155k surviving pairs) was ~75% of the wall on
    # STRING arrays; integer arrays hash far cheaper.  The rank window
    # is a single pass over the VOCABULARY (distinct tokens — orders
    # of magnitude below corpus size; an extreme-vocab corpus would
    # swap in operators/windows.global_rank_two_pass).
    from pyspark.sql import Window

    dfreq = (
        sets.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    ranked = dfreq.select(
        "tok",
        F.row_number()
        .over(Window.orderBy("df", "tok"))
        .alias("rk"),
    )

    # The rank-ordered token table feeds THREE plan references (the
    # prefix explode + both token-array join-backs) — without pinning,
    # the scan+tokenize+dfreq+rank subtree re-executes for each (r10,
    # guide §2.4; the item_cf_topk lineage-pinning pattern).
    # localCheckpoint truncates the lineage once; blocks are
    # ContextCleaner-managed, no persisted-frame leak.  Ascending rank
    # order IS the (df, token) order, so array_sort of the ranks
    # reproduces the exact prefix the string form used.
    ordered = (
        sets.select("__id", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
        .join(ranked, "tok")
        .groupBy("__id", "n")
        .agg(F.array_sort(F.collect_list("rk")).alias("toks"))
    )
    if pin_lineage:
        ordered = ordered.localCheckpoint(eager=True)

    # Candidate pairs carry ONLY (id, n) through the token join and the
    # dedup shuffle — the token arrays rejoin after dropDuplicates, so
    # the heavy payload moves once per SURVIVING pair, not once per
    # (pair × shared-prefix-token) occurrence.
    prefixes = ordered.select(
        "__id",
        "n",
        F.explode(F.slice("toks", F.lit(1), _prefix_len(threshold))).alias("tok"),
    )

    a = prefixes.select(
        F.col("__id").alias("id_a"), F.col("n").alias("n_a"), "tok"
    )
    b = prefixes.select(
        F.col("__id").alias("id_b"), F.col("n").alias("n_b"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # J >= t forces t <= min/max: prune before the distinct.
            & (
                F.least("n_a", "n_b")
                >= F.ceil(F.greatest("n_a", "n_b") * F.lit(threshold))
            )
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(
            ordered.select(F.col("__id").alias("id_a"), F.col("toks").alias("toks_a")),
            "id_a",
        )
        .join(
            ordered.select(F.col("__id").alias("id_b"), F.col("toks").alias("toks_b")),
            "id_b",
        )
    )

    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    verified = cand.select(
        "id_a",
        "id_b",
        inter.alias("inter_size"),
        (F.col("n_a") + F.col("n_b") - inter).alias("union_size"),
    ).filter(
        # integer-exact threshold test: inter/union >= t  <=>
        # inter * 10^6 >= union * round(t * 10^6)  (t given to <= 6 dp)
        F.col("inter_size") * F.lit(1_000_000)
        >= F.col("union_size") * F.lit(int(round(threshold * 1_000_000)))
    )
    return verified.withColumn(
        "jaccard", F.col("inter_size") / F.col("union_size")
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    toks_col: str,
    threshold_ppm: int = 900_000,
) -> DataFrame:
    """Asymmetric near-containment pairs: (small, big) document pairs
    where the smaller token set is ≥ ``threshold_ppm``/10⁶ contained
    in the larger (``C(A,B) = |A∩B| / |A|``, |A| ≤ |B|, id tiebreak).

    The subset-duplicate detector Jaccard misses: a doc pasted inside
    a 10× larger doc has J ≈ 0.1 but containment 1.0 — quote/boiler
    inclusion, versioned appends, chunk-of-doc leaks.

    Exact, via the distinct-token equi-join: explode both sides, join
    on the token, count shared tokens per pair, keep pairs passing the
    integer cross-multiplied test ``inter·10⁶ ≥ threshold·|A|`` — no
    float thresholds.  Scale: candidate generation is the token
    shuffle (same economics as set_similarity_join, which adds prefix
    filtering; containment's prefix bound depends only on |A|, so the
    smaller side could prune to its first ``⌈(1−t)·|A|⌉+1`` tokens —
    left direct here because the corpus slice bounds the output, and
    production corpora run exact-dedup + a DF cap on hot tokens first
    (operators/dedup.ngram_jaccard discipline)).
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.col(toks_col)).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    toks = base.select(
        "__id",
        F.size("__toks").alias("__n"),
        F.explode("__toks").alias("__tok"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__tok") == F.col("b.__tok"))
            & (
                (F.col("a.__n") < F.col("b.__n"))
                | (
                    (F.col("a.__n") == F.col("b.__n"))
                    & (F.col("a.__id") < F.col("b.__id"))
                )
            ),
        )
        .groupBy(
            F.col("a.__id").alias("id_small"),
            F.col("b.__id").alias("id_big"),
            F.col("a.__n").alias("small_size"),
        )
        .agg(F.count("*").alias("inter_size"))
    )
    return inter.filter(
        F.col("inter_size") * F.lit(1_000_000)
        >= F.lit(threshold_ppm) * F.col("small_size")
    ).select(
        "id_small",
        "id_big",
        F.col("inter_size").cast("int").alias("inter_size"),
        F.col("small_size").cast("int").alias("small_size"),
        F.expr("inter_size * 1000000L div small_size").alias(
            "containment_ppm"
        ),
    )
