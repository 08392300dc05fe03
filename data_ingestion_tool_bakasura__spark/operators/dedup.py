"""Deduplication family (C13 near-dup extensions).

Exact dedup (A18, the reference's per-chunk index probe at
``db_utils.py:133-146`` as set operations) lives in
``operators.ingest.dedup_against_index``; the near-dup operators here
(MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine) are the
LLM-corpus extensions mandated by BASELINE.json.

Design for 100 TB:
- MinHash/LSH: signatures are per-row expressions (no shuffle); banding
  turns all-pairs comparison into an equi-join on (band, bucket-key),
  so candidate generation is a shuffle on bucket keys whose size tracks
  true near-duplicates, not n^2. Skewed buckets (boilerplate docs) are
  handled by AQE skew-join splitting.
- SimHash: 64-bit signature via per-token md5 bit-votes, then banded
  into 4x16-bit keys for Hamming<=3-ish candidate pairing.
- embedding near-dup reuses the LSH machinery in similarity.py.

All signature math is built-in expressions (md5 / conv / bitwise ops /
higher-order array fns) — JVM-side, deterministic, and reproducible in
ANSI SQL for the DuckDB oracle (one md5 digest per shingle, split into
two 52-bit ints, Kirsch-Mitzenmacher double hashing h1 + k*h2 — DuckDB
reproduces it with ('0x' || substr(md5, ...))::BIGINT).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint
from data_ingestion_tool_bakasura__spark.functions.text import normalize_text


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def word_tokens(col: Column | str) -> Column:
    return F.split(F.trim(normalize_text(col)), " ")


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text."""
    toks = word_tokens(col)
    return F.array_distinct(
        F.when(
            F.size(toks) < n,
            F.array(F.array_join(toks, " ")),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )
    )


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    out: str = "mh_sig",
) -> DataFrame:
    """Add a MinHash signature column ``out`` (array<bigint>, length
    ``num_hashes``) over the text's distinct word shingles.

    One md5 per shingle, split into two 52-bit ints (h1, h2); hash k is
    the Kirsch-Mitzenmacher double hash h1 + k*h2 (standard MinHash
    family, one digest amortized over all k). Built as SEPARATE
    projections (digests -> h1/h2 -> mins) so Catalyst does not inline
    and recompute the md5 transform once per hash function — as a single
    nested expression the digest work is duplicated num_hashes times,
    which at corpus scale dominates the whole dedup job. 52-bit values
    keep h1 + 15*h2 < 2^56: no signed-64 overflow on either engine.
    """
    dig = F.transform(shingles(text_col, shingle_n), lambda s: F.md5(s))
    df = df.withColumn("_mh_dig", dig)
    df = df.withColumn(
        "_mh_h1",
        F.transform("_mh_dig", lambda d: F.conv(F.substring(d, 1, 13), 16, 10).cast("bigint")),
    ).withColumn(
        "_mh_h2",
        F.transform("_mh_dig", lambda d: F.conv(F.substring(d, 14, 13), 16, 10).cast("bigint")),
    )
    def _km(k: int):
        return lambda a, b: a + F.lit(k) * b

    sig = F.array(
        *[
            F.array_min(F.zip_with(F.col("_mh_h1"), F.col("_mh_h2"), _km(k)))
            for k in range(num_hashes)
        ]
    )
    return df.withColumn(out, sig).drop("_mh_dig", "_mh_h1", "_mh_h2")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures as flat columns (id, mh0..mh{k-1}) — the
    throughput path: posexplode tokens -> lead() window builds shingle
    strings -> md5/conv -> groupBy min(h1 + k*h2).

    Same hash family and identical values to :func:`with_minhash` (one
    md5 per shingle, two 52-bit halves, Kirsch-Mitzenmacher h1 + k*h2).
    Two deliberate departures from the array-expression form, worth
    ~3.4x at sf0.1 (7.8s -> 2.3s signatures):

    - shingles are built with window ``lead()`` over exploded tokens
      instead of array transform/slice/join — flat row expressions stay
      inside whole-stage codegen, nested higher-order functions do not;
    - no ``array_distinct``: min over a multiset equals min over its
      set, so dedup of repeated shingles is provably unnecessary here
      (exact Jaccard still dedups — see :func:`jaccard_pairs`).

    Shuffle shape: two exchanges on the doc id — one for the shingle
    window, one for the aggregation after the union with the (tiny)
    short-document branch; partial min combines map-side so the second
    moves one row per doc. Use :func:`with_minhash` when the signature
    must ride along existing rows without any shuffle.
    """
    from pyspark.sql import Window

    norm = normalize_text(text_col)
    toks = df.select(F.col(id_col).alias("_id"), F.posexplode(F.split(norm, " ")).alias("_pos", "_tok"))
    w = Window.partitionBy("_id").orderBy("_pos")
    leads = [F.lead("_tok", i).over(w) for i in range(1, shingle_n)]
    tri = toks.select(
        "_id",
        F.concat_ws(" ", F.col("_tok"), *leads).alias("_sh"),
        (leads[-1] if leads else F.col("_tok")).alias("_last"),
    )
    long_sh = tri.filter(F.col("_last").isNotNull()).select("_id", "_sh")
    short_sh = df.select(F.col(id_col).alias("_id"), norm.alias("_sh")).filter(
        F.size(F.split(F.col("_sh"), " ")) < shingle_n
    )
    ex = long_sh.unionByName(short_sh).withColumn("_d", F.md5("_sh")).select(
        "_id",
        F.conv(F.substring("_d", 1, 13), 16, 10).cast("bigint").alias("_h1"),
        F.conv(F.substring("_d", 14, 13), 16, 10).cast("bigint").alias("_h2"),
    )
    return ex.groupBy("_id").agg(
        *[F.min(F.col("_h1") + F.lit(k) * F.col("_h2")).alias(f"mh{k}") for k in range(num_hashes)]
    ).withColumnRenamed("_id", id_col)


def lsh_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(``_id``, ``bkey``) band-bucket rows — the PERSISTED state of
    incremental near-dup (write this once per corpus, then dedup each
    increment against it with :func:`minhash_lsh_increment` instead of
    re-hashing 100 TB of text). One row per (doc, band); ``bkey``
    prefixes the band ordinal so buckets never collide across bands."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.concat_ws(
                    ",", *[F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
                ),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(F.col(id_col).alias("_id"), F.explode(band_keys).alias("bkey"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 100,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via MinHash banding.

    explode(band keys) -> self-equi-join on the key -> distinct pairs.
    The join is an ordinary shuffled equi-join on band keys; candidate
    volume scales with actual similarity, not n^2.

    ``max_bucket_size`` drops buckets with more members than the cap
    before the self-join (broadcast anti-join on the few oversized
    keys). Oversized buckets are boilerplate collisions — at corpus
    scale they are noise, and the self-join inside one is O(bucket^2),
    so the cap is what keeps worst-case cost linear in corpus size.
    """
    # Deliberately NOT persisted (measured r17): the (id, band-key)
    # frame feeds four branches (bucket counts, cap anti-join, both
    # self-join sides) and Spark re-derives unshared subtrees, so the
    # text -> shingle -> signature pipeline runs once per branch (8 text
    # scans in the executed plan). Persisting it read SLOWER at sf0.1 on
    # local[32] (min-of-3: 2.46s vs 1.90s lazy) — the lazy branches
    # execute in parallel while the persist serializes a materialization
    # barrier — and a cached frame here would let a later query with an
    # identical subtree (q_dedup_clusters) silently reuse it, corrupting
    # per-query bench attribution. The 100 TB answer is the operator
    # contract one: build lsh_band_index ONCE, write it to parquet, and
    # dedup increments against it (minhash_lsh_increment) — never
    # recompute candidates from raw text at corpus scale.
    keyed = lsh_band_index(df, text_col, id_col, num_hashes, bands, shingle_n)
    if max_bucket_size is not None:
        big = (
            keyed.groupBy("bkey")
            .agg(F.count("*").alias("_bsz"))
            .filter(F.col("_bsz") > max_bucket_size)
            .select("bkey")
        )
        keyed = keyed.join(F.broadcast(big), on="bkey", how="left_anti")
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, on="bkey")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_increment(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 100,
    new_keyed: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs touching at least one NEW document,
    probed against a persisted :func:`lsh_band_index` — the
    daily-increment dedup path. The corpus text is never re-read: only
    its (id, band-key) index rows are, and only the buckets the
    increment actually hits (the index side is semi-joined on the
    increment's distinct keys, broadcast because an increment's key set
    is small by assumption). Cost scales with |new| + matched buckets.

    ``new_keyed`` lets a caller that already holds the increment's
    ``lsh_band_index`` rows (e.g. the streaming sink, which also appends
    them to the persisted index) pass them in so the MinHash pass over
    the increment text runs once, not once per consumer. When given, it
    must be the UNCAPPED index of exactly ``new_docs`` under the same
    hash family / banding; ``new_docs`` and ``text_col`` are then unused.

    Batch parity (proven in tests): with ``max_bucket_size=None``,
    the result equals a full :func:`minhash_lsh_candidates` recompute
    over corpus+new restricted to pairs with a new member. With a cap,
    bucket sizes are counted over index+new COMBINED — the same
    populations a full recompute would count — but note the cap is not
    monotone: a bucket crossing the cap only after the increment keeps
    its historical corpus-internal pairs while a from-scratch recompute
    would drop them.

    Returns (id_a, id_b), id_a < id_b, distinct.
    """
    if new_keyed is None:
        # Deliberately NOT persisted (measured r17): the increment keys
        # feed six branches, so the MinHash pass over the increment text
        # runs once per branch — but the branches execute in parallel
        # and persisting read slower at sf0.1 on local[32] (min-of-3:
        # keys-persisted 4.37s vs lazy 2.64s for q_incremental_dedup).
        # The production paths never hit this fan-out: the streaming
        # sink passes a CHECKPOINTED new_keyed, and a batch increment
        # job should do the same (reliable_checkpoint) when its
        # increment is expensive to re-derive.
        new_keyed = lsh_band_index(
            new_docs, text_col, id_col, num_hashes, bands, shingle_n
        )
    if max_bucket_size is not None:
        combined = (
            index.groupBy("bkey").agg(F.count("*").alias("_ci"))
            .join(
                new_keyed.groupBy("bkey").agg(F.count("*").alias("_cn")),
                on="bkey",
                how="full_outer",
            )
            .filter(
                F.coalesce(F.col("_ci"), F.lit(0)) + F.coalesce(F.col("_cn"), F.lit(0))
                > max_bucket_size
            )
            .select("bkey")
        )
        new_keyed = new_keyed.join(F.broadcast(combined), on="bkey", how="left_anti")
        index = index.join(F.broadcast(combined), on="bkey", how="left_anti")
    probe_keys = new_keyed.select("bkey").distinct()
    idx_hit = index.join(F.broadcast(probe_keys), on="bkey", how="left_semi")
    cross = (
        idx_hit.select("bkey", F.col("_id").alias("_old"))
        .join(new_keyed.select("bkey", F.col("_id").alias("_new")), on="bkey")
        .filter(F.col("_old") != F.col("_new"))
        .select(
            F.least("_old", "_new").alias("id_a"),
            F.greatest("_old", "_new").alias("id_b"),
        )
    )
    a = new_keyed.alias("a")
    b = new_keyed.alias("b")
    within = (
        a.join(b, on="bkey")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    )
    return cross.unionByName(within).distinct()


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    shingle_n: int = 1,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for (optionally blocked) pairs.

    Inverted-index style: explode distinct shingles, self-join on the
    shingle (within ``block_col`` when given), count intersections, then
    |A ∪ B| = |A| + |B| − |A ∩ B|. All equi-joins + aggregations, fully
    SQL-expressible (oracle-checked); blocking keeps the pair space
    linear-ish at scale.
    """
    base = df.select(
        _c(id_col).alias("_id"),
        *([_c(block_col).alias("_blk")] if block_col else []),
        F.explode(shingles(text_col, shingle_n)).alias("sh"),
    ).distinct()
    sizes = base.groupBy("_id").agg(F.count("*").alias("sz"))
    join_keys = ["sh"] + (["_blk"] if block_col else [])
    a, b = base.alias("a"), base.alias("b")
    inter = (
        a.join(b, on=join_keys)
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sz_a = sizes.select(F.col("_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("_id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    out_col: str | None = None,
) -> DataFrame:
    """Sub-document exact dedup — the C4/RefinedWeb curation step that
    document-level dedup misses (boilerplate paragraphs repeated across
    otherwise-distinct pages): split each doc on ``sep``, keep only the
    CANONICAL occurrence of every normalized paragraph corpus-wide
    (lowest (doc_id, position) wins), and reassemble each doc's
    surviving paragraphs in their original order.

    Output: ``df`` with ``out_col`` (default: overwrite ``text_col``)
    plus ``n_paras`` / ``n_dropped`` accounting columns. Comparison is
    on the whitespace-normalized paragraph; the ORIGINAL paragraph text
    is what gets reassembled. Whitespace-only paragraphs are never
    dropped (they are formatting, not content). Docs whose text is NULL
    pass through unchanged with ``n_paras = n_dropped = 0`` — split(NULL)
    explodes to no rows, so an inner join would silently drop the doc
    (ADVICE r6). Deterministic and idempotent (a second pass drops
    nothing — tested).

    Scale: posexplode -> md5 -> ONE window ranked on the paragraph hash
    (hash-partitioned exchange, O(paragraphs) rows of (id, pos, hash))
    -> per-doc reassembly aggregate. No UDF, no driver state. Skewed
    boilerplate (one paragraph in millions of docs) lands one hash
    partition with many rows — row_number over it is a sort within one
    task's partition, bounded by AQE skew splitting; the reassembly agg
    is partial+final.
    """
    out_col = out_col or text_col
    norm = normalize_text("_para")
    paras = df.select(
        _c(id_col).alias("_id"), F.posexplode(F.split(_c(text_col), sep)).alias("_pos", "_para")
    ).withColumn("_norm", norm)
    w = Window.partitionBy("_h").orderBy("_id", "_pos")
    # whitespace-only paragraphs get a per-row key (always rank 1 =
    # kept) — a shared sentinel would funnel every empty paragraph in
    # the corpus into ONE window partition
    ranked = paras.withColumn(
        "_h",
        F.when(F.col("_norm") != "", F.md5("_norm")).otherwise(
            F.concat_ws(":", F.lit("_empty"), F.col("_id"), F.col("_pos"))
        ),
    ).withColumn("_rn", F.row_number().over(w))
    rebuilt = (
        ranked.withColumn("_keep", F.col("_rn") == 1)
        .groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_pos", "_para"))
                        )
                    ),
                    lambda s: s["_para"],
                ),
                sep,
            ).alias("_rebuilt"),
            F.count("*").alias("n_paras"),
            F.sum((~F.col("_keep")).cast("int")).alias("n_dropped"),
        )
    )
    keep_cols = [df[c] for c in df.columns if c != out_col]
    # left join: a NULL-text doc has no exploded rows, hence no rebuilt
    # aggregate — keep it (text passthrough, zeroed accounting) instead
    # of silently losing it to an inner join
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_id"], "left")
        .select(
            *keep_cols,
            F.coalesce(F.col("_rebuilt"), df[text_col]).alias(out_col),
            F.coalesce(F.col("n_paras"), F.lit(0).cast("long")).alias("n_paras"),
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("long")).alias("n_dropped"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level dedup with actual text surgery — the Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better")
    step at word-``n``-gram granularity: every word ``n``-gram keeps
    exactly ONE canonical occurrence corpus-wide (lowest (doc_id,
    position) wins); every other occurrence's token span is cut out of
    its document. Overlapping duplicated spans merge (gaps-and-islands)
    before removal, so a long repeated run is removed once as one span,
    not ``run - n + 1`` times. q_repeated_spans *counts* this signal;
    this operator *applies* it.

    Fixed-``n``-gram spans approximate the paper's suffix-array maximal
    repeated substrings: any duplicated run of >= ``n`` words is
    removed exactly (its grams tile the run and the islands merge);
    runs shorter than ``n`` are below the duplication threshold by
    construction. Tokenization is whitespace-normalized words; surgery
    is at token granularity, so the cleaned text is the kept tokens
    re-joined with single spaces.

    Returns one row per input doc keyed by ``id_col``:
    ``cleaned`` (the post-surgery text), ``n_spans`` (merged removed
    islands), ``n_tokens_removed``, ``n_tokens_kept``. Docs with NULL
    text clean to ``''``; docs whose every occurrence is canonical come
    back unchanged. Idempotent: a second pass removes nothing (every
    surviving gram occurrence is the canonical one — tested).

    Scale: tokenization is a map; grams come from ONE ordered window
    over (doc, pos) (no second explode — the frame IS the gram);
    canonical ranking is one hash exchange on the 8-byte xxhash64 gram
    key, O(grams) rows of scalars; island-merge + reassembly are
    per-doc windows/aggregates (exchange on doc_id). No UDF, no driver
    state, no all-pairs stage — the same shuffle profile that already
    holds for q_repeated_spans, plus the per-doc surgery. Boilerplate
    skew (one gram in millions of docs) concentrates one hash
    partition; row_number over it is a single-task sort bounded by AQE
    skew splitting, and only (id, pos) scalars sit in that partition.
    """
    if n < 2:
        raise ValueError(f"remove_repeated_spans: n must be >= 2, got {n}")
    tok = _span_tokens(df, text_col, id_col)
    grams = _span_grams(tok, n)
    # canonical occurrence per gram: lowest (doc, start) — kept; the
    # rest are the duplicated spans to cut
    dup = (
        grams.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("_gh").orderBy("_id", "_st"))
        )
        .filter(F.col("_rn") > 1)
        .select("_id", "_st", "_en")
    )
    return _apply_span_surgery(df, tok, dup, id_col)


def _span_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _pos, _tok): whitespace-normalized word tokens with doc
    positions. NULL/empty text splits to [''] — filtered, not a token."""
    return df.select(
        _c(id_col).alias("_id"),
        F.posexplode(
            F.split(F.trim(F.regexp_replace(F.coalesce(_c(text_col), F.lit("")), r"\s+", " ")), " ")
        ).alias("_pos", "_tok"),
    ).filter(F.col("_tok") != "")


def _span_grams(tok: DataFrame, n: int) -> DataFrame:
    """(_id, _st, _en, _gh): word n-grams as token-index intervals with
    an 8-byte xxhash64 key, from ONE ordered window (the frame IS the
    gram — no second explode); tail partials dropped."""
    wg = Window.partitionBy("_id").orderBy("_pos").rowsBetween(Window.currentRow, n - 1)
    return (
        tok.select(
            "_id",
            F.col("_pos").alias("_st"),
            F.count("*").over(wg).alias("_cnt"),
            F.xxhash64(F.array_join(F.collect_list("_tok").over(wg), " ")).alias("_gh"),
        )
        .filter(F.col("_cnt") == n)
        .select("_id", "_st", (F.col("_st") + n - 1).alias("_en"), "_gh")
    )


def _apply_span_surgery(
    df: DataFrame, tok: DataFrame, dup: DataFrame, id_col: str
) -> DataFrame:
    """Merge the duplicated spans per doc (gaps-and-islands) and cut
    them out of the token stream; one output row per input doc.

    Doc-level assembly: one row per doc on each side, islands applied
    to the token array with higher-order fns — no removed-positions
    explode, no anti-join, and the merged-island frame is consumed
    exactly once (a third text scan otherwise reappears via a
    spans-accounting agg)."""
    # a span opens a new island iff it starts past every prior span's end
    wprev = Window.partitionBy("_id").orderBy("_st").rowsBetween(Window.unboundedPreceding, -1)
    wrun = Window.partitionBy("_id").orderBy("_st")
    merged = (
        dup.withColumn(
            "_new", (F.col("_st") > F.coalesce(F.max("_en").over(wprev), F.lit(-1))).cast("int")
        )
        .withColumn("_isl", F.sum("_new").over(wrun))
        .groupBy("_id", "_isl")
        .agg(F.min("_st").alias("_st"), F.max("_en").alias("_en"))
    )
    tok_agg = tok.groupBy("_id").agg(
        F.array_sort(F.collect_list(F.struct("_pos", "_tok"))).alias("_toks")
    )
    isl_agg = merged.groupBy("_id").agg(
        F.collect_list(F.struct("_st", "_en")).alias("_cut"),
        F.count("*").alias("n_spans"),
        F.sum(F.col("_en") - F.col("_st") + 1).alias("n_tokens_removed"),
    )
    ids = df.select(_c(id_col).alias("_id")).distinct()
    kept = F.filter(
        F.coalesce("_toks", F.array()),
        lambda t: ~F.exists(
            F.coalesce("_cut", F.array()),
            lambda s: (t["_pos"] >= s["_st"]) & (t["_pos"] <= s["_en"]),
        ),
    )
    return (
        ids.join(tok_agg, "_id", "left")
        .join(isl_agg, "_id", "left")
        .withColumn("_kept", kept)
        .select(
            F.col("_id").alias(id_col),
            F.array_join(F.transform("_kept", lambda t: t["_tok"]), " ").alias("cleaned"),
            F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce("n_tokens_removed", F.lit(0).cast("long")).alias("n_tokens_removed"),
            F.size("_kept").cast("long").alias("n_tokens_kept"),
        )
    )


def span_gram_index(
    df: DataFrame, n: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The persistable half of the substring-dedup increment: the
    DISTINCT word-n-gram hashes (``gh``) a corpus has ever exhibited.
    Append each increment's index (computed on its PRE-surgery text) and
    :func:`remove_repeated_spans_increment` never re-tokenizes the
    corpus. 8 bytes per distinct gram — the same growth contract as
    ``lsh_band_index``."""
    return (
        _span_grams(_span_tokens(df, text_col, id_col), n)
        .select(F.col("_gh").alias("gh"))
        .distinct()
    )


def remove_repeated_spans_increment(
    new_docs: DataFrame,
    index: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-span surgery for an INCREMENT probed against a
    persisted :func:`span_gram_index` — the third dedup family's
    incremental closure (LSH: ``minhash_lsh_increment``; semantic:
    ``semantic_dedup_increment``). A new doc's n-gram span is cut iff
    its hash was seen in ANY prior increment (the canonical occurrence
    is in the corpus) or a lower-(doc, pos) occurrence exists within
    this increment. First-seen-wins; with doc-id-ordered arrival the
    cleaned output equals the batch :func:`remove_repeated_spans` run
    over corpus+increment, restricted to the increment (parity-tested).

    Corpus text is never re-tokenized: per increment the work is the
    increment's own gram pass plus one semi/anti-join against the
    8-byte-per-gram index — a year of daily increments costs a year of
    increments. Same output columns as the batch operator.
    """
    if n < 2:
        raise ValueError(f"remove_repeated_spans_increment: n must be >= 2, got {n}")
    tok = _span_tokens(new_docs, text_col, id_col)
    grams = _span_grams(tok, n)
    seen = index.select(F.col("gh").alias("_gh"), F.lit(True).alias("_seen"))
    # ONE pass over the increment's grams: left-join the seen flag, then
    # rank every occurrence per gram. Seen-before grams are cut entirely
    # (the corpus holds the canonical, so their rank is irrelevant);
    # fresh grams cut all but the lowest-(doc, pos) occurrence. Fusing
    # the former semi+anti pair halves the gram-subtree evaluations.
    dup = (
        grams.join(seen.distinct(), "_gh", "left")
        .withColumn(
            "_rn", F.row_number().over(Window.partitionBy("_gh").orderBy("_id", "_st"))
        )
        .filter(F.col("_seen").isNotNull() | (F.col("_rn") > 1))
        .select("_id", "_st", "_en")
    )
    return _apply_span_surgery(new_docs, tok, dup, id_col)


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    eps: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding column. Cluster the space
    (caller supplies the centroid frame — :func:`~.similarity
    .pick_seed_centroids` for a deterministic bootstrap,
    :func:`~.similarity.kmeans_centroids` for refined lists), assign
    each vector to its nearest centroid, and within each cluster mark
    a vector as a duplicate iff some LOWER-id cluster-mate has cosine
    similarity >= ``eps`` to it (the same lowest-id-witness semantics
    as the LSH/embedding near-dup family here — the witness need not
    itself survive).

    Returns one decision row per corpus vector: ``(id_col, c_id,
    is_dup, dup_of, max_sim)`` where ``dup_of`` is the LOWEST witness
    id and ``max_sim`` the best witness similarity (NULL for kept
    rows). Filter ``~is_dup`` for the pruned corpus.

    Similarities round to ``round_dp`` decimals before both the
    centroid argmax and the eps test, so the decisions are
    reproducible across engines/retries (near-ties become exact ties
    broken by id — see :func:`~.similarity.ivf_assign`).

    Scale: assignment is the map-only Arrow matmul (no shuffle); the
    pair stage is ONE exchange of the corpus on the cluster id into a
    grouped-map UDF that does the whole cluster's pairwise comparison
    as a single numpy matmul — the paper's own per-cluster kernel (a
    banded self-join form cost 3 corpus scans + 5 UDF evals + 500k
    per-pair JVM aggregates; this is one scan, one shuffle, one GEMM
    per cluster). The whole point of SemDeDup is that clustering
    bounds the candidate set: size ``n_lists`` so a cluster's vectors
    fit a task (paper uses ~sqrt(n) clusters). ``max_cluster_size``
    guards the degenerate whale cluster the same way the LSH family's
    ``max_bucket_size`` guards boilerplate buckets: clusters over the
    cap are salted into ceil(size/cap) deterministic md5-style
    sub-groups (xxhash64 of the id) and pairs are only compared WITHIN
    a sub-group — a documented recall trade (cross-sub near-dups are
    missed) that bounds task memory at cap^2 similarities. It costs
    one extra assignment pass for the size lookup, so leave it None
    unless the centroid fit genuinely cannot balance the lists.
    No driver state beyond the tiny centroid set + per-cluster sizes.
    """
    import numpy as np

    from data_ingestion_tool_bakasura__spark.operators.similarity import ivf_assign

    assigned = ivf_assign(
        corpus, centroids, corpus_id=id_col, vec_col=vec_col, round_dp=round_dp
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("c_id", centroids.schema["c_id"].dataType),
            T.StructField("is_dup", T.BooleanType()),
            T.StructField("dup_of", corpus.schema[id_col].dataType),
            T.StructField("max_sim", T.DoubleType()),
        ]
    )

    def _decide(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf[id_col].to_numpy().argsort(kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.array(pdf[vec_col].tolist(), dtype=np.float64)[order]
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        S = np.round(Vn @ Vn.T, round_dp)
        m = len(ids)
        # witnesses live in the strict upper triangle: row i < col j
        W = np.triu(S >= eps, k=1)
        hit = W.any(axis=0)
        first = W.argmax(axis=0)  # first True row = lowest witness id (id-sorted)
        best = np.where(W, S, -np.inf).max(axis=0, initial=-np.inf)
        dup_of = [ids[first[j]] if hit[j] else None for j in range(m)]
        max_sim = [float(best[j]) if hit[j] else None for j in range(m)]
        return pd.DataFrame(
            {
                id_col: ids,
                "c_id": pdf["c_id"].iloc[0],
                "is_dup": [d is not None for d in dup_of],
                "dup_of": dup_of,
                "max_sim": max_sim,
            }
        )

    group_cols = ["c_id"]
    if max_cluster_size is not None:
        if max_cluster_size < 1:
            raise ValueError(f"max_cluster_size must be >= 1, got {max_cluster_size}")
        sizes = assigned.groupBy("c_id").agg(F.count("*").alias("_sz"))
        nsub = F.greatest(F.ceil(F.col("_sz") / max_cluster_size), F.lit(1))
        assigned = (
            assigned.join(F.broadcast(sizes), "c_id")
            .withColumn(
                "_sub",
                F.pmod(F.xxhash64(_c(id_col).cast("string")), nsub).cast("int"),
            )
            .drop("_sz")
        )
        group_cols = ["c_id", "_sub"]
    return assigned.groupBy(*group_cols).applyInPandas(_decide, out_schema)


def semantic_dedup_increment(
    new_vecs: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    eps: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    new_assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup decisions for an INCREMENT probed against a persisted
    seen-vector index — the daily-batch / streaming closure of
    :func:`semantic_dedup`, same shape as
    :func:`minhash_lsh_increment`: the corpus is never re-compared
    against itself; per increment the work is assigning the new
    vectors plus one GEMM per touched cluster against that cluster's
    indexed members.

    ``index`` holds EVERY previously-seen vector ``(id_col, c_id,
    vec_col)`` — kept AND dropped: in SemDeDup a witness need not
    itself survive (1~2, 2~3, 1!~3 still drops 3 via the dropped 2),
    so a survivors-only index would silently diverge from the batch
    operator. A new vector is a duplicate iff some indexed cluster-mate
    (any id — it was seen first) or some LOWER-id new cluster-mate has
    cosine >= ``eps``. First-seen-wins across increments; with
    id-ordered arrival this equals the batch decision exactly
    (parity-tested). ``new_assigned`` lets the streaming sink reuse the
    increment's assignment (it also appends those rows to the index)
    so the argmax UDF runs once per micro-batch.

    Returns the same decision frame as :func:`semantic_dedup`, for the
    NEW vectors only. Only clusters the increment touches are read
    from the index (broadcast semi-join on the increment's cluster
    ids), so cost scales with |new| + matched cluster members.
    """
    import numpy as np

    from data_ingestion_tool_bakasura__spark.operators.similarity import ivf_assign

    if new_assigned is None:
        new_assigned = ivf_assign(
            new_vecs, centroids, corpus_id=id_col, vec_col=vec_col, round_dp=round_dp
        )
    probe = new_assigned.select("c_id").distinct()
    idx_hit = index.join(F.broadcast(probe), "c_id", "left_semi")
    both = idx_hit.select(id_col, vec_col, "c_id").withColumn(
        "_prior", F.lit(True)
    ).unionByName(new_assigned.select(id_col, vec_col, "c_id").withColumn("_prior", F.lit(False)))
    out_schema = T.StructType(
        [
            T.StructField(id_col, new_vecs.schema[id_col].dataType),
            T.StructField("c_id", centroids.schema["c_id"].dataType),
            T.StructField("is_dup", T.BooleanType()),
            T.StructField("dup_of", new_vecs.schema[id_col].dataType),
            T.StructField("max_sim", T.DoubleType()),
        ]
    )

    def _decide(pdf: pd.DataFrame) -> pd.DataFrame:
        prior = pdf[pdf["_prior"]]
        new = pdf[~pdf["_prior"]]
        order = new[id_col].to_numpy().argsort(kind="stable")
        new_ids = new[id_col].to_numpy()[order]
        mp, mn = len(prior), len(new)
        all_ids = list(prior[id_col]) + list(new_ids)
        V = np.array(list(prior[vec_col]) + list(new[vec_col].to_numpy()[order]), dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        S = np.round(Vn @ Vn[mp:].T, round_dp)  # (mp+mn) x mn
        # eligibility: every prior row witnesses every new column; a new
        # row witnesses only strictly-higher-id new columns
        E = np.ones((mp + mn, mn), dtype=bool)
        E[mp:, :] = np.triu(np.ones((mn, mn), dtype=bool), k=1)
        W = (S >= eps) & E
        dup_of, max_sim = [None] * mn, [None] * mn
        for j in range(mn):
            rows = np.flatnonzero(W[:, j])
            if len(rows):
                dup_of[j] = min(all_ids[r] for r in rows)
                max_sim[j] = float(S[rows, j].max())
        return pd.DataFrame(
            {
                id_col: new_ids,
                "c_id": pdf["c_id"].iloc[0],
                "is_dup": [d is not None for d in dup_of],
                "dup_of": dup_of,
                "max_sim": max_sim,
            }
        )

    return both.groupBy("c_id").applyInPandas(_decide, out_schema)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the rolling-hash fingerprinting the brief's text-
    analysis surface calls for): hash every word ``shingle_n``-gram,
    slide a ``window``-gram window over the hash sequence, keep each
    window's MINIMUM hash. Output is the fingerprint SET — distinct
    (id_col, fp) rows.

    Why winnowing over "every k-th gram" sampling:

    - coverage guarantee: any token run of >= window + shingle_n - 1
      tokens shared by two docs contributes at least one SHARED
      fingerprint — long overlaps cannot be silently missed;
    - density bound: expected sketch size ~ 2/(window+1) of the gram
      count, position-independent (robust to insertions/deletions
      upstream of the match, unlike stride sampling).

    Conventions: docs shorter than ``shingle_n`` tokens fingerprint
    their whole normalized text (the engine's MinHash shingle
    convention); docs with fewer than ``window`` grams emit the min
    over all their grams (the frame truncates — one window). Hash =
    leading 52 bits of md5(shingle), the same DuckDB-reproducible
    family as MinHash (``('0x' || substr(md5(s),1,13))::BIGINT``).

    Scale: shingles via the same lead()-window codegen path as
    :func:`minhash_signatures`; the sliding min is a per-doc window
    over positions reusing that exchange; the closing distinct is a
    map-side-combinable aggregate. Shuffle O(tokens), no UDF.
    """
    norm = normalize_text(text_col)
    toks = df.select(
        _c(id_col).alias("_id"), F.posexplode(F.split(norm, " ")).alias("_pos", "_tok")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    leads = [F.lead("_tok", i).over(w) for i in range(1, shingle_n)]
    gram = toks.select(
        "_id",
        "_pos",
        F.concat_ws(" ", F.col("_tok"), *leads).alias("_sh"),
        (leads[-1] if leads else F.col("_tok")).alias("_last"),
    )
    long_sh = gram.filter(F.col("_last").isNotNull()).select("_id", "_pos", "_sh")
    short_sh = (
        df.select(_c(id_col).alias("_id"), norm.alias("_sh"))
        .filter(F.size(F.split(F.col("_sh"), " ")) < shingle_n)
        .select("_id", F.lit(0).alias("_pos"), "_sh")
    )
    gh = long_sh.unionByName(short_sh).select(
        "_id",
        "_pos",
        F.conv(F.substring(F.md5("_sh"), 1, 13), 16, 10).cast("bigint").alias("_h"),
    )
    w_min = Window.partitionBy("_id").orderBy("_pos").rowsBetween(0, window - 1)
    w_cnt = Window.partitionBy("_id")
    return (
        gh.select(
            "_id",
            F.col("_pos"),
            F.min("_h").over(w_min).alias("_wmin"),
            F.count("*").over(w_cnt).alias("_g"),
        )
        # valid window starts: 0..max(n_grams - window, 0); the frame
        # truncates at the partition end for the short-doc case
        .filter(F.col("_pos") <= F.greatest(F.col("_g") - window, F.lit(0)))
        .select(F.col("_id").alias(id_col), F.col("_wmin").alias("fp"))
        .distinct()
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_bucket: int = 100,
) -> DataFrame:
    """MOSS-style overlap candidates from winnowing sketches: doc pairs
    sharing at least ``min_shared`` fingerprints, with the shared count
    -> (id_a, id_b, n_shared). The coverage guarantee makes this the
    cross-doc long-overlap detector: any shared token run of
    >= window + shingle_n - 1 tokens forces >= 1 shared fingerprint,
    so real plagiarism/boilerplate overlaps cannot score 0.

    vs :func:`jaccard_pairs` (exact, joins on every distinct gram):
    the join here is on the SKETCH — ~2/(window+1) of the grams — so
    the self-join input shrinks ~3x at the defaults while keeping the
    guarantee. ``max_bucket`` drops fingerprints shared by more than
    that many docs (universal boilerplate) before the quadratic
    per-bucket pairing, the same worst-case-linear cap as the LSH
    banding path.

    Share points measured and left LAZY (r18, closing the r17 census
    on this 8-wide-scan plan; min-of-3 isolated fresh sessions at
    sf0.1, q_winnow_pairs): lazy 6.59s, fps persisted 6.75s, kept
    persisted 5.94s, both 5.74s — the ~10% best case sits inside this
    host's per-run spread (the same runs swung 6.6-13.3s), unlike the
    decisive deep-clean surgery checkpoint (7.2 -> 4.0s). Same verdict
    class as the minhash persists above; at scale the sketch is a
    persisted parquet index, not an in-plan re-derivation.
    """
    fps = winnow_fingerprints(df, text_col, id_col, shingle_n, window)
    ok = fps.groupBy("fp").agg(F.count("*").alias("_n")).filter(
        F.col("_n") <= max_bucket
    )
    kept = fps.join(ok.select("fp"), "fp")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, on="fp")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(col: str) -> Column:
    """64-bit SimHash of the whitespace tokens as a bigint (semantic
    reference form — see :func:`simhash64_agg` for the fast path).

    Each distinct token votes +1/-1 per bit using bits of md5(token)
    (bit b of a token = bit (3 - b%4) of hex nibble b/4); the signature
    bit is 1 when the vote sum is positive. Built as one SQL expression
    of higher-order functions — per-row, no shuffle, no UDF. Takes a
    column NAME (SQL shift/conv need expression-typed shift amounts,
    which the Python Column API doesn't accept).

    Cost caveat: nested higher-order functions get no whole-stage
    codegen and this form re-evaluates md5(token) once PER BIT (64x).
    Fine for a handful of rows; for corpus-scale signatures use
    :func:`simhash64_agg`, which computes each digest once.
    """
    toks = (
        f"array_distinct(split(trim(regexp_replace({col}, '\\\\s+', ' ')), ' '))"
    )
    nibble = "cast(conv(substring(md5(t), cast(b / 4 as int) + 1, 1), 16, 10) as int)"
    bit = f"(({nibble} div shiftleft(1, 3 - cast(b % 4 as int))) % 2)"
    votes = (
        f"transform(sequence(0, 63), b -> aggregate({toks}, 0, "
        f"(acc, t) -> acc + (CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)))"
    )
    packed = (
        f"aggregate(zip_with({votes}, sequence(0, 63), "
        f"(v, i) -> CASE WHEN v > 0 THEN shiftleft(cast(1 as bigint), cast(i as int)) "
        f"ELSE cast(0 as bigint) END), cast(0 as bigint), (acc, x) -> acc | x)"
    )
    return F.expr(packed)


def simhash64_agg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", out: str = "sig"
) -> DataFrame:
    """(id, sig) with the SAME 64-bit SimHash as :func:`simhash64`, via
    the aggregation fast path: explode distinct tokens, ONE md5 + 16
    nibble extractions per token (flat codegen-able projection; Spark's
    subexpression elimination shares the digest), then 64 map-side
    partial bit-count sums per doc. The exchange carries 65 ints per
    (doc, partition) — O(docs), not O(tokens) — the same
    explode->flat-columns->partial-agg shape as the MinHash path, which
    measured ~7x faster than the nested higher-order expression."""
    toks = F.array_distinct(
        F.split(F.trim(F.regexp_replace(text_col, r"\s+", " ")), " ")
    )
    ex = df.select(_c(id_col).alias("_id"), F.explode(toks).alias("t")).withColumn(
        "h", F.md5("t")
    )
    nib = [
        F.conv(F.substring("h", i + 1, 1), 16, 10).cast("int").alias(f"n{i}")
        for i in range(16)
    ]
    ex = ex.select("_id", *nib)
    # vote for bit b is +1 when bit (3 - b%4) of nibble b//4 is set else -1;
    # sum(vote) > 0  <=>  2 * count(bit set) > count(tokens)
    bit_sums = [
        F.sum(F.shiftright(F.col(f"n{b // 4}"), 3 - b % 4).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(64)
    ]
    agg = ex.groupBy("_id").agg(F.count("*").alias("_nt"), *bit_sums)
    packed = F.lit(0).cast("bigint")
    for b in range(64):
        packed = packed.bitwiseOR(
            F.when(
                F.col(f"c{b}") * 2 > F.col("_nt"),
                F.expr(f"shiftleft(cast(1 as bigint), {b})"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return agg.select("_id", packed.alias(out))


def simhash_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bands: int = 4
) -> DataFrame:
    """Near-dup candidates via SimHash banding: split the 64-bit sig
    into ``bands`` 16-bit keys; pairs sharing any key are candidates
    (Hamming distance <= 64/bands * (bands-1) guaranteed coverage for
    small distances, standard pigeonhole argument)."""
    width = 64 // bands
    band_expr = F.expr(
        f"transform(sequence(0, {bands - 1}), b -> concat(cast(b as string), ':', "
        f"cast(shiftrightunsigned(sig, cast(b as int) * {width}) & {(1 << width) - 1} "
        f"as string)))"
    )
    keyed = simhash64_agg(df, text_col, id_col, out="sig").select(
        "_id", F.explode(band_expr).alias("bkey")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, on="bkey")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# duplicate clusters (connected components) + canonical selection
# ---------------------------------------------------------------------------

def _uf_partition_cc(node_type):
    """mapInPandas function: exact connected components over the edges
    that landed in THIS partition via union-find (path halving), root =
    min member id. Memory is O(nodes in partition) — bounded by the
    partition size Spark already guarantees."""
    def run(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                parent[r] = parent[parent[r]]
                r = parent[r]
            return r

        edges = []
        for pdf in batches:
            for s, d in zip(pdf["src"], pdf["dst"]):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[rs] = rd
            edges.append(pdf)
        root_min: dict = {}
        for n in parent:
            r = find(n)
            m = root_min.get(r)
            if m is None or n < m:
                root_min[r] = n
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "root": [root_min[find(n)] for n in nodes]}
        )

    return run


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_levels: int = 10) -> DataFrame:
    """Connected components over candidate pairs -> (doc_id, cluster_id)
    with cluster_id = min doc id in the component.

    Partition-local union-find + graph contraction, not per-round label
    propagation: each level runs exact union-find inside every edge
    partition (mapInPandas, memory bounded by partition size), then
    contracts — a node seen in several partitions with different local
    roots yields quotient edges (min_root, other_root), and the next
    level runs on that quotient graph. Each level contracts the graph
    by the partition-local component count (thousands-fold), so levels
    ~ log_contraction(diameter): the sf0.1 fixture's 2113-node chain
    component that needed 15 rounds of min-label propagation (~0.55s of
    fixed job latency per round) resolves in 2 levels. Per-level
    mappings (node -> level root) compose by join at the end. Plans
    stay shallow (<= max_levels joins), so no checkpoint/spill lineage
    discipline is needed; each level's edge set is localCheckpoint'd to
    cut the mapInPandas lineage. No driver-side state beyond the
    per-level quotient edge count.
    """
    node_t = pairs.schema[id_a].dataType
    out_schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("root", node_t)]
    )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .transform(reliable_checkpoint)
    )
    level_maps = []
    for _ in range(max_levels):
        local = edges.mapInPandas(_uf_partition_cc(node_t), schema=out_schema)
        # ONE checkpoint per level: the union-find + agg materializes
        # once, and both the level map (node -> min local root) and the
        # quotient edges are cheap projections of the materialized agg.
        # (Checkpointing the projections separately would run the
        # mapInPandas union-find twice per level.)
        agg = (
            local.groupBy("node")
            .agg(F.min("root").alias("mroot"), F.collect_set("root").alias("roots"))
            .transform(reliable_checkpoint)
        )
        level_maps.append(agg.select("node", F.col("mroot").alias("root")))
        edges = (
            agg.select(F.explode("roots").alias("src"), F.col("mroot").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .transform(reliable_checkpoint)
        )
        if edges.count() == 0:
            break
    # compose node -> root through the levels (<= levels-1 small joins)
    out = level_maps[0]
    for m in level_maps[1:]:
        nxt = m.select(F.col("node").alias("_n"), F.col("root").alias("_r"))
        out = out.join(nxt, out.root == F.col("_n"), "left").select(
            "node", F.coalesce(F.col("_r"), F.col("root")).alias("root")
        )
    return out.select(F.col("node").alias("doc_id"), F.col("root").alias("cluster_id"))


def keep_canonical(docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus dedup resolution: drop every non-canonical member of each
    duplicate cluster (canonical = cluster_id = min id, deterministic).
    Docs not in any cluster are singletons and survive. One broadcast-
    friendly join against the (small) cluster table."""
    losers = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return docs.join(losers, on=id_col, how="left_anti")
