"""Deduplication operators over a ``documents``-shaped table.

Five families (BASELINE.json north star), each a pure DataFrame
program with a DuckDB-portable formulation:

- **exact**: md5-of-normalized-text hash groupBy — one shuffle on the
  hash, map-side combinable. The 100 TB workhorse.
- **MinHash + LSH**: word-shingle → per-permutation min hash → banded
  bucket join. Candidate generation cost is O(docs · bands), pair
  explosion bounded by bucket sizes (``max_bucket_size`` drops hot
  buckets at scale).
- **n-gram Jaccard**: exact verification on candidate pairs via a
  shingle-equijoin (never all-pairs). Every candidate generator
  (LSH, AllPairs prefixes, cross-corpus bands, the incremental index)
  verifies through ONE routine, :func:`verify_jaccard`, over ONE
  per-doc set convention, :func:`shingle_sets`.
- **SimHash**: 28-bit sign-sum fingerprint; hamming-distance
  verification over band-blocked candidates.
- **embedding cosine** near-dup: see ``similarity.py``.
- **connected components** over verified near-dup pairs
  (:func:`connected_components`): min-label propagation to a unique
  fixpoint — the step that turns pairwise matches into dedup groups
  and survivors.

Portable-hash note: Spark ``hash()`` ≠ DuckDB ``hash()``, so all
hashing goes through md5 — minhashes compare *hex strings*
(lexicographic min ≡ numeric min on fixed-width hex), and integer
hashes take the first 7 hex digits (28 bits, exact in a BIGINT in
both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stock_indicators_etl_spark.llmdata.hashing import h56 as _h56
from stock_indicators_etl_spark.llmdata.text import norm_text, spread, words


_spread = spread  # shared fan-out heuristic (llmdata.text.spread)


def _bucket_pairs(grouped: DataFrame, id_list_col: str = "ids") -> DataFrame:
    """Expand sorted id-arrays into (doc_a < doc_b) pairs with array
    higher-order functions — the single-pass alternative to a
    bucket self-join (which would recompute the bucket lineage for
    both sides and shuffle it twice). O(b²) per bucket happens inside
    one codegen'd expression; huge buckets are a skew problem for the
    self-join formulation too, and should be frequency-capped
    upstream at scale.
    """
    ids = F.array_sort(F.col(id_list_col))
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.filter(F.size(id_list_col) > 1)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
    )


def _bucket_pairs_carrying_n(grouped: DataFrame, id_list_col: str = "ids") -> DataFrame:
    """(id, n)-struct variant of :func:`_bucket_pairs`: each posting
    entry carries its doc's set size, so downstream length logic (the
    Jaccard denominator, the AllPairs length filter) consumes the count
    riding the pair — no join back onto a per-doc length table, hence
    no broadcast of a corpus-sized frame (DESIGN §4.23). Struct sort
    orders by ``id`` first and ``n`` is functionally dependent on it,
    so the (doc_a < doc_b) pair order matches :func:`_bucket_pairs`.
    Emits ``doc_a, doc_b, _na, _nb``.
    """
    ids = F.array_sort(F.col(id_list_col))
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(
                    x["id"].alias("doc_a"),
                    y["id"].alias("doc_b"),
                    x["n"].alias("_na"),
                    y["n"].alias("_nb"),
                ),
            ),
        )
    )
    return (
        grouped.filter(F.size(id_list_col) > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p._na", "p._nb")
    )

def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle-set containment join — excerpt/quote
    detection: ``containment = |A∩B| / min(|A|, |B|)`` over word
    k-gram shingle sets, the measure that finds a short document
    embedded inside a long one (their Jaccard is tiny — the union is
    dominated by the long side — so :func:`ngram_jaccard_pairs`
    misses exactly the pairs this operator exists for). The
    corpus-internal counterpart of :func:`ngram_containment` (which
    scores docs against a BENCHMARK's broadcast shingle set).

    Plan: the pair counts ARE the Jaccard posting-list path's
    (:func:`ngram_jaccard_pairs` with ``candidates=None``) — per-doc
    set sizes ride every posting entry, so after pair expansion there
    is ONE combinable aggregate, zero joins, zero broadcasts; the
    containment denominator is ``least(n_a, n_b)`` read off the pair
    row, one IEEE division of exact integers (the unused ``jaccard``
    column is pruned from the plan). ``max_doc_freq`` caps
    hot-shingle pair expansion exactly as in the Jaccard form (capped
    semantics mirror in the oracle); at corpus scale set it
    (:data:`SCALE_MAX_DOC_FREQ`).
    """
    out = ngram_jaccard_pairs(
        df, text_col, k, max_doc_freq=max_doc_freq
    ).select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_a",
        "n_b",
        (
            F.col("n_inter").cast("double") / F.least("n_a", "n_b").cast("double")
        ).alias("containment"),
    )
    if threshold > 0:
        out = out.filter(F.col("containment") >= F.lit(threshold))
    return out


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text.

    Returns one row per distinct content hash: canonical (min) doc_id,
    copy count. Survivors = ``n_copies == 1`` plus canonicals.
    """
    h = F.md5(norm_text(F.col(text_col)))
    return (
        df.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_survivors(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The cleaned corpus: keep exactly one doc (min doc_id) per
    distinct normalized content — the operation a training-data
    pipeline actually applies. One md5-groupBy shuffle + a semi join
    on the canonical ids (broadcastable when the duplicate rate is
    high and the canonical set is small)."""
    canon = exact_dedup(df, text_col).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    return df.join(canon, "doc_id", "left_semi")


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 16,
    sep: str | None = None,
) -> DataFrame:
    """C4-style repeated-span removal WITHIN documents across the
    corpus: segment each document into spans, drop every span whose
    exact normalized content already occurred earlier in the corpus
    (first occurrence by ``(doc_id, position)`` wins), and reassemble
    the cleaned text — the treatment C4 applies to repeated
    three-sentence windows and boilerplate lines, at span granularity.

    ``sep``: a regex to split on (newline for paragraph mode, a
    sentence regex for sentence mode). ``None`` segments the
    normalized word stream into fixed ``block_words``-word blocks —
    the deterministic fallback for corpora without structural
    separators (e.g. the testdata documents, which have no newlines).

    Scale shape: one ``posexplode`` to ~n_words/block rows, then ONE
    shuffle on the 16-byte span hash (a window ``row_number`` — the
    span text itself never shuffles beyond its own row), and a
    groupBy on ``doc_id`` to reassemble. No joins, no iteration; the
    keep-first rule is a per-hash min, so map-side combining applies
    to the rank's sort. Skew: a boilerplate span repeated across 30%
    of the corpus lands one hot hash key whose rows are (id, pos)
    pairs only — bounded bytes per row, and only the single winning
    row survives the rank.

    Output: ``(doc_id, clean_text, n_spans, n_spans_kept)`` for every
    input doc (docs whose spans were all dropped keep an empty
    ``clean_text``).
    """
    if sep is not None:
        spans = F.filter(
            F.transform(F.split(F.col(text_col), sep), lambda s: norm_text(s)),
            lambda s: F.length(s) > 0,
        )
    else:
        ws = words(F.col(text_col))
        n_blocks = F.ceil(F.size(ws) / F.lit(block_words)).cast("int")
        spans = F.when(F.size(ws) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_blocks - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(ws, i * block_words + F.lit(1), block_words), " "
                ),
            )
        )
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(spans).alias("pos", "span"),
    ).withColumn("h", F.md5(F.col("span")))
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    kept = exploded.withColumn("_rk", F.row_number().over(w))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("_rk") == 1, 1)).alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rk") == 1,
                                F.struct(F.col("pos"), F.col("span")),
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # docs with zero spans (empty text) never exploded — restore them
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_spans_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_spans_kept"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1,
    block_words: int = 16,
    sep: str | None = None,
) -> DataFrame:
    """CCNet-style boilerplate-span removal by CORPUS FREQUENCY:
    segment each document into spans (newline/sentence regex via
    ``sep``, or fixed ``block_words``-word blocks for corpora without
    structural separators), count each normalized span's DOCUMENT
    frequency across the corpus, and drop — from EVERY document,
    including the first — any span appearing in more than
    ``max_doc_freq`` documents. This is the other dedup grain from
    :func:`span_dedup`'s keep-first rule: keep-first preserves one
    copy of genuine content; the doc-frequency rule treats a span
    repeated across documents as boilerplate (nav bars, cookie
    banners, license headers) of which the corpus wants ZERO copies
    (Wenzek et al. 2020's paragraph dedup).

    Scale shape: one ``posexplode`` to span rows, ONE combinable
    count shuffle on the 16-byte span hash (count(DISTINCT doc) runs
    as the two-phase distinct aggregate, so the shuffle carries
    distinct (hash, doc) pairs), a LEFT join of span rows onto the
    over-threshold hash set (unbounded frame — NOT broadcast-forced;
    AQE decides, skew-splits the boilerplate hot keys), and one
    groupBy on ``doc_id`` to reassemble. No iteration.

    Output: ``(doc_id, clean_text, n_spans, n_spans_kept)`` for every
    input doc (all-boilerplate docs keep an empty ``clean_text``).
    """
    if sep is not None:
        spans = F.filter(
            F.transform(F.split(F.col(text_col), sep), lambda s: norm_text(s)),
            lambda s: F.length(s) > 0,
        )
    else:
        ws = words(F.col(text_col))
        n_blocks = F.ceil(F.size(ws) / F.lit(block_words)).cast("int")
        spans = F.when(F.size(ws) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_blocks - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(ws, i * block_words + F.lit(1), block_words), " "
                ),
            )
        )
    exploded = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(spans).alias("pos", "span"),
    ).withColumn("h", F.md5(F.col("span")))
    boiler = (
        exploded.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("h", F.lit(True).alias("_boiler"))
    )
    flagged = exploded.join(boiler, "h", "left")
    keep = F.col("_boiler").isNull()
    rebuilt = (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(keep, 1)).alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("pos"), F.col("span")))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # docs with zero spans (empty text) never exploded — restore them
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_spans_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_spans_kept"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------


def word_shingles(
    df: DataFrame, text_col: str = "text", k: int = 3, distinct: bool = True
) -> DataFrame:
    """Word k-gram shingles per doc: (doc_id, shingle).

    ``distinct=True`` (set semantics, required for Jaccard) dedups via
    ``distinct()`` (one shuffle). Measured note: deduping per-doc with
    ``array_distinct``+``filter`` HOFs *before* the explode looks
    shuffle-free on paper but ran 2-7× slower here (the nested HOF
    chain leaves whole-stage codegen); the relational formulation
    stays codegen'd end-to-end.

    ``distinct=False`` skips that shuffle entirely — correct for any
    duplicate-insensitive consumer (MinHash takes a per-doc *min* over
    shingle hashes, so multiset vs set is indistinguishable), and the
    biggest single saving in the LSH path: the exploded stream is ~50×
    the corpus and never needs to shuffle at full width.
    """
    # materialize the words array BEFORE gram construction: lambda
    # bodies get no common-subexpression elimination, so slicing
    # `words(text)` directly re-runs the normalize+split regex per
    # gram index — O(words²) regex work per doc (measured ~7x on the
    # shingle projection at sf0.1)
    pre = _spread(df).select("doc_id", words(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    n = F.size(w)
    grams = F.when(n < k, F.array(F.concat_ws(" ", w))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        )
    )
    out = (
        pre.select("doc_id", F.explode(grams).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )
    return out.distinct() if distinct else out


def shingle_sets(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, sh_set): each doc's distinct 56-bit word k-gram hashes
    (:func:`.hashing.h56`) — the one set every exact-overlap operator
    here counts on (Jaccard, containment, decontamination, the
    incremental index), so they agree with each other and with the
    oracle's hashing. The set is built by one map-side-combined
    ``groupBy(doc_id).collect_set``: the exploded shingle stream never
    shuffles at full width, and ``size(sh_set)`` is the exact set size.
    """
    return (
        word_shingles(df, text_col, k, distinct=False)
        .select("doc_id", _h56(F.col("shingle")).alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sh_set"))
    )


def _jaccard_scored(counts: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) pair counts → the same plus
    ``jaccard = |∩| / (|A|+|B|−|∩|)`` (one IEEE division of exact
    integers), keeping pairs at or above ``threshold`` (0 keeps all)."""
    out = counts.withColumn(
        "jaccard",
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
    ).select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= F.lit(threshold))
    return out


def verify_jaccard(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs — the one verify
    step shared by every candidate generator (LSH, AllPairs prefixes,
    cross-corpus bands, the incremental index).

    ``candidates``: (doc_a, doc_b). ``sets_a`` / ``sets_b``: the
    :func:`shingle_sets` frames (doc_id, sh_set) holding the ``doc_a``
    and ``doc_b`` docs (the same frame twice for a self-join).
    |∩| is an ``array_intersect`` per pair, so the posting-list pair
    explosion never happens; pairs sharing no shingle are dropped, as
    the posting-list form never emits them. Join strategy is the
    CALLER's: each passes its frames already hinted (DESIGN §4.23).
    Emits (doc_a, doc_b, n_inter, n_a, n_b, jaccard).
    """
    a = sets_a.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sa"))
    b = sets_b.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sb"))
    counts = (
        a.join(candidates, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("n_inter"),
            F.size("sa").alias("n_a"),
            F.size("sb").alias("n_b"),
        )
        .filter(F.col("n_inter") > 0)
    )
    return _jaccard_scored(counts, threshold)


#: Double-hashing parameters: one md5 per shingle yields two 56-bit
#: halves h1/h2 (14 hex digits each — exact in BIGINT in both
#: engines); permutation i hashes to (h1 + i·h2) mod MH_PRIME.
#: h1 + 11·h2 < 8.7e17 ≪ 2^63 → no overflow anywhere.
MH_PRIME = 999_999_999_999_989

#: Documented scale default for :func:`ngram_jaccard_pairs`'s
#: ``max_doc_freq`` on boilerplate-heavy corpora: a shingle shared by
#: d docs emits d²/2 pairs and carries no dedup signal once d is
#: large. Oracle queries pass ``None`` (exact reference semantics);
#: production pipelines at 100 TB should not.
SCALE_MAX_DOC_FREQ = 64

#: Scale default for LSH ``max_bucket_size`` in the COMPOSED pipelines
#: (:func:`neardup_components`): an LSH bucket of b docs expands to
#: b²/2 candidate pairs, and real corpora have power-law bucket sizes
#: (boilerplate). A bucket this large means the band key carries no
#: discriminative signal — its pairs are noise for near-dup purposes,
#: and the docs it contains still meet in their other, selective
#: bands. Far above anything the sf0.01/sf0.1 oracle data produces
#: (max observed bucket ≈ group size of planted dup clusters, ~10), so
#: oracles stay bit-green with the guard ACTIVE (VERDICT r2 #2).
SCALE_MAX_BUCKET_SIZE = 512


def _minhash_hashed_shingles(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """(doc_id, h1, h2): the two 56-bit halves of each shingle's md5.
    ``h1`` is :func:`.hashing.h56` — the :func:`shingle_sets` hash —
    so one md5 per shingle can feed both a signature and a set.
    Duplicate shingles are kept: they cannot change a min, and
    skipping the distinct() skips a full-width shuffle of the 50×
    exploded stream."""
    md = F.md5(F.col("shingle"))
    return word_shingles(df, text_col, k, distinct=False).select(
        "doc_id",
        _h56(F.col("shingle")).alias("h1"),
        F.conv(F.substring(md, 17, 14), 16, 10).cast("long").alias("h2"),
    )


def _minhash_aggs(n_hashes: int) -> list[Column]:
    """The ``mh_0..mh_{n-1}`` per-doc aggregates over
    :func:`_minhash_hashed_shingles` rows: g_i(s) = (h1 + i·h2) mod P."""
    return [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(MH_PRIME)).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n_hashes: int = 12, k: int = 3
) -> DataFrame:
    """Per-doc MinHash signature via the classic double-hashing
    construction: g_i(s) = (h1(s) + i·h2(s)) mod P, one md5 per
    shingle instead of one per (shingle, permutation) — 12× fewer
    hash evaluations. Output: doc_id, mh_0..mh_{n-1} (BIGINT). The
    only shuffle is the map-side-combined groupBy.
    """
    return (
        _minhash_hashed_shingles(df, text_col, k)
        .groupBy("doc_id")
        .agg(*_minhash_aggs(n_hashes))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: band the signature (n_hashes/band_size
    bands), bucket-join docs sharing any band key, emit distinct
    (doc_a < doc_b) pairs.

    Scale path: one shuffle on (band_idx, band_key) — docs sharing a
    band collide in a bucket; pairs are expanded inside the bucket
    (``_bucket_pairs``), never via all-pairs or a second pass over the
    signature lineage. ``max_bucket_size`` drops hot buckets
    (boilerplate-heavy corpora ⇒ power-law bucket sizes; a bucket of
    b docs emits b²/2 pairs) — the standard skew guard at corpus
    scale; ``None`` keeps exact reference semantics.
    """
    sig = minhash_signatures(df, text_col, n_hashes, k)
    return _banded_candidates(sig, n_hashes, band_size, max_bucket_size)


def band_rows(sig: DataFrame, n_hashes: int, band_size: int) -> DataFrame:
    """Signature → one (doc_id, band_idx, band_key) row per band —
    the LSH bucketing key stream, also the persisted layout of the
    incremental dedup index (:mod:`.dedup_index`)."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.band_key").alias("band_key")
    )


def _banded_candidates(
    sig: DataFrame,
    n_hashes: int,
    band_size: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    banded = band_rows(sig, n_hashes, band_size)
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.collect_set("doc_id").alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return _bucket_pairs(buckets).distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, via shingle equijoin)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word k-gram shingle sets.

    Pairs come from the shingle posting lists (docs sharing ≥1
    shingle) — never a cross join; optionally restricted to
    ``candidates`` (doc_a, doc_b), e.g. LSH output.
    Jaccard = |∩| / (|A|+|B|−|∩|).

    ``max_doc_freq`` drops shingles appearing in more than that many
    docs before pair expansion (a shingle shared by d docs emits d²/2
    pairs — stopword-ish shingles dominate cost at corpus scale and
    carry no dedup signal). Note this changes |∩| for the surviving
    pairs; ``None`` = exact. At corpus scale set it
    (:data:`SCALE_MAX_DOC_FREQ` is the documented default) — the
    property test plants a hot shingle and shows the unbounded form is
    quadratic in its doc frequency.

    Plan shapes:

    - ``candidates=None`` (exact all-pairs-sharing-a-shingle): the
      per-doc :func:`shingle_sets` give ``n_sh`` scan-locally and the
      re-exploded (doc_id, h, n_sh) rows build the postings, so EVERY
      POSTING ENTRY CARRIES ITS DOC'S SIZE (the AllPairs pattern,
      :func:`_bucket_pairs_carrying_n`). The Jaccard denominator then
      rides the pair stream — there is NO per-doc sizes table and NO
      join after pair expansion, hence nothing to broadcast. (The r8
      form joined a per-doc sizes aggregate back onto the pair counts
      under a forced broadcast — one small row per doc is still
      billions of rows at 100 TB, the exact OOM class DESIGN §4.23
      bans; VERDICT r8 #1.) Cost: the stream shuffles twice (doc_id
      then h) instead of once, the price of eliminating the
      post-expansion join entirely.
    - with ``candidates``: the corpus is semi-joined down to candidate
      docs *before* shingling, then :func:`verify_jaccard` joins the
      candidate pairs to the per-doc shingle sets and |∩| is an
      ``array_intersect`` — the pair explosion (Σ_s d_s² over the full
      corpus) never happens. Total work is O(candidate docs ·
      shingles/doc). ``candidates`` is persisted here (it is consumed
      by three operators; without pinning, its LSH lineage would
      recompute each time). This path is always exact —
      ``max_doc_freq`` does not apply (there is no posting-list
      expansion to cap).
    """
    if candidates is None:
        # n_sh is read off each set BEFORE the doc-freq cap (sizes stay
        # exact; the cap restricts only which shingles contribute to
        # |∩|, mirroring the capped oracle). Sizes ride the pair stream
        # (_na/_nb are functionally dependent on doc_a/doc_b, so max()
        # under the count recovers them) — the plan after pair
        # expansion is ONE combinable aggregate, zero joins, zero
        # broadcasts (plan-asserted in tests/test_plans.py)
        entries = shingle_sets(df, text_col, k).select(
            "doc_id", F.size("sh_set").alias("n_sh"), F.explode("sh_set").alias("h")
        )
        posting = entries.groupBy("h").agg(
            F.collect_list(
                F.struct(F.col("doc_id").alias("id"), F.col("n_sh").alias("n"))
            ).alias("ids")
        )
        if max_doc_freq is not None:
            posting = posting.filter(F.size("ids") <= max_doc_freq)
        counts = (
            _bucket_pairs_carrying_n(posting)
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).alias("n_inter"),
                F.max("_na").alias("n_a"),
                F.max("_nb").alias("n_b"),
            )
        )
        return _jaccard_scored(counts, threshold)
    if max_doc_freq is not None:
        # the candidate path has no posting-list expansion to cap;
        # silently returning exact values for a caller who asked
        # for capped semantics would be a behavior trap
        raise ValueError(
            "max_doc_freq only applies to the posting-list (candidates=None) "
            "path; the candidate path is always exact"
        )
    # persisted because three operators consume it (cand_docs twice
    # + the pair join); the registration lives as long as the
    # plan — long-lived sessions invoking the pipeline repeatedly
    # should clearCache() between invocations (bench.py does)
    candidates = candidates.select("doc_a", "doc_b").persist()
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # broadcast discipline (DESIGN §4.23): LSH candidate sets are NOT
    # bounded by construction — per-bucket caps bound SKEW, but the
    # total is cap × n_buckets ∝ corpus size (a forced broadcast
    # OOM'd neardup_components at 500k docs), and the AllPairs prefix
    # filter at low thresholds emits a pair-stream-sized set. Merely
    # DROPPING the hint is not enough: the static planner's size
    # estimate for the HOF-derived persisted candidate lineage (and
    # for the per-candidate-doc sets built from it) is garbage-tiny,
    # so it STILL picks BroadcastHashJoin and the build OOMs at sf1.
    # ``hint("merge")`` pins every candidate-side join of the STATIC
    # plan to a shuffle join; AQE then demotes to broadcast at runtime
    # using REAL shuffle sizes whenever the set is actually small —
    # fast at sf0.01, safe at any scale, results identical.
    #
    # restrict BEFORE the shingle fan-out: only candidate docs pay
    # the explode+collect_set (the full-corpus fan-out already ran
    # once, inside LSH candidate generation)
    doc_sets = shingle_sets(
        df.join(cand_docs.hint("merge"), "doc_id", "left_semi"), text_col, k
    ).hint("merge")
    return verify_jaccard(candidates.hint("merge"), doc_sets, doc_sets, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 28  # 7 hex digits of md5 → exact in BIGINT in both engines


def _word_hash28(c: Column) -> Column:
    """Portable 28-bit integer hash: first 7 hex digits of md5."""
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")


def simhash_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """28-bit SimHash per doc: for each bit, sum ±1 over the doc's
    distinct words' hashes; bit set iff sum > 0.

    One groupBy over the distinct-token rows with 28 conditional-sum
    aggregates (one per bit) — no bit explode (a 28× row blow-up).
    Token dedup is a map-side ``collect_set`` per doc (``_spread``
    keeps a doc in one partition, so the partial aggregate dedups
    before the shuffle and the exploded token stream never shuffles at
    full width); the explode after it preserves the doc_id hash
    partitioning, so the bit-sum groupBy adds NO second exchange —
    one narrow shuffle end-to-end.
    """
    toks = (
        _spread(df)
        .select("doc_id", F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("doc_id")
        .agg(F.collect_set("w").alias("ws"))
        .select("doc_id", F.explode("ws").alias("w"))
        .select("doc_id", _word_hash28(F.col("w")).alias("h"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("doc_id", fingerprint.alias("simhash"))


def simhash_neardup(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_band_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via banded LSH — the
    pair surface the fingerprint operator was always for (Charikar
    2002 / Manku et al. 2007's dedup shape): split the 28-bit
    fingerprint into ``bands`` windows, equi-join docs sharing any
    window, verify Hamming distance AT the band join from the two
    carried fingerprints (``bit_count(xor)`` — integer arithmetic,
    nothing recomputed).

    Pigeonhole guarantee: with 28/bands-bit windows, any pair within
    Hamming ``bands − 1`` shares at least one intact window — so the
    default (4 bands, max_hamming 3) has GUARANTEED recall, not
    heuristic recall (the dhash_neardup story at word-feature grain).

    Plan: one scan-local band explode (bands× rows of two BIGINTs),
    one equi-join on (band_idx, band_value), DISTINCT to collapse
    multi-band hits.

    ``max_band_size`` is the :func:`minhash_lsh_candidates` skew
    knob: a band value shared by m docs emits m²/2 candidate pairs,
    and a 28-bit fingerprint has only 128 values PER 7-BIT BAND — on
    a homogeneous corpus band buckets grow ∝ N and the join is
    quadratic (measured: the uncapped sf1 sweep run exploded; the
    SCALING row is the capped form). The cap drops over-popular band
    values BEFORE the join — pairs may then surface through their
    other, more selective bands or not at all (capped semantics,
    mirrored in the oracle). ``None`` = exact (guarantee intact) for
    bounded corpora/tests.
    """
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    banded = fingerprints.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), k * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for k in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("_fa"),
        "band_idx",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("_fb"),
        "band_idx",
        "band_val",
    )
    if max_band_size is not None:
        ok = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("_bs"))
            .filter(F.col("_bs") <= max_band_size)
            .select("band_idx", "band_val")
        )
        # bucket-size frame is NOT bounded by construction — never
        # force-broadcast (DESIGN §4.23); AQE decides from real sizes
        a = a.join(ok.hint("merge"), ["band_idx", "band_val"], "left_semi")
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(ham <= max_hamming)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .distinct()
    )


def dup_fraction(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Per-document duplication fraction — the selection-friendly
    SCALAR form of the duplicated-span measurements (Lee et al. 2022
    headline the distribution of exactly this number): the fraction
    of a doc's distinct word k-grams whose corpus document frequency
    exceeds 1. A data-selection pass thresholds or down-weights on
    it directly, where :func:`dup_span_audit` reports offsets for
    inspection.

    Plan: distinct (doc, gram-hash) stream → ONE combinable count
    per hash for doc frequency → LEFT join of the duplicated-hash
    set back (merge-pinned — the set is corpus-derived, never
    force-broadcast; AQE re-broadcasts when genuinely small) → one
    per-doc combinable aggregate. ``dup_frac`` is one IEEE division
    of exact integers; empty/short docs report 0 grams and NULL
    fraction.
    """
    grams = (
        word_shingles(df, text_col, k, distinct=False)
        .select("doc_id", _h56(F.col("shingle")).alias("h"))
        .distinct()
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 1)
        .select("h", F.lit(True).alias("_dup"))
    )
    per_doc = (
        grams.join(dup.hint("merge"), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("_dup"), 1)).alias("n_dup"),
        )
    )
    frac = F.col("n_dup").cast("double") / F.col("n_grams").cast("double")
    r6 = F.floor(frac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        df.select(F.col("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.when(F.coalesce("n_grams", F.lit(0)) > 0, r6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram containment)
# ---------------------------------------------------------------------------


def ngram_containment(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Contamination check of a training corpus against an evaluation
    benchmark: for each (doc, benchmark example) pair sharing ≥1 word
    k-gram, ``containment = |S(doc) ∩ S(bench)| / |S(bench)|`` — the
    fraction of the benchmark example present in the doc. Docs with
    high containment against any eval example must be dropped before
    training (decontamination).

    Plan shape: shingles are reduced to 56-bit md5 hashes before any
    shuffle or join (identical hashing in the oracle, so counts agree
    even on the astronomically-unlikely collision); the corpus side
    dedups per doc with a map-side ``collect_set`` (no full-width
    distinct of the exploded strings). The benchmark side is small by
    construction (eval sets), so its hashed shingle table and sizes
    are broadcast — the corpus stream joins them scan-side, and the
    only wide-ish shuffle is the map-side-combined (doc, bench)
    count. Never a corpus self-join.
    """

    doc_sh = shingle_sets(df, text_col, k).select(
        "doc_id", F.explode("sh_set").alias("h")
    )
    b_sets = shingle_sets(benchmark, text_col, k).withColumnRenamed(
        "doc_id", "bench_id"
    )
    sizes = b_sets.select("bench_id", F.size("sh_set").cast("long").alias("n_bench"))
    b_sh = b_sets.select("bench_id", F.explode("sh_set").alias("h"))
    common = (
        doc_sh.join(F.broadcast(b_sh), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(F.broadcast(sizes), "bench_id")
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.col("n_bench").cast("double"),
        )
        .select("doc_id", "bench_id", "n_common", "n_bench", "containment")
    )
    if threshold > 0:
        out = out.filter(F.col("containment") >= F.lit(threshold))
    return out


# ---------------------------------------------------------------------------
# connected components (near-dup groups -> survivors)
# ---------------------------------------------------------------------------


class _PinLedger:
    """Unpersist schedule for iterative pin-per-round loops.

    Encodes the ADVICE-r11 rule as a testable policy: a persisted
    round frame may only be released once a frame WITHOUT cache
    lineage (a materialized ``localCheckpoint``) supersedes it,
    because ``unpersist`` clears the buffers of every cached plan
    still embedding the released plan as a subtree — releasing the
    previous persist round right after pinning the current one (the
    pre-r12 behavior) therefore invalidated the cache the next
    iteration was about to read. Releases come newest-first so no
    surviving pin ever embeds a released subtree.
    """

    def __init__(self) -> None:
        self._pending: list = []

    def pin(self, frame, released_by_this_pin: bool) -> list:
        """Record this round's pinned frame; return the frames that
        are now safe to unpersist (newest-first, possibly empty).

        ``released_by_this_pin=True`` means ``frame`` is (about to be)
        a materialized checkpoint with no cache lineage — every older
        pending pin becomes releasable. ``False`` means ``frame`` is a
        plain ``persist()`` whose plan embeds the previous pins; they
        all stay pinned.
        """
        if released_by_this_pin:
            stale = list(reversed(self._pending))
            self._pending = []
            return stale
        self._pending.append(frame)
        return []

    @property
    def still_pinned(self) -> list:
        return list(self._pending)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by min-label propagation: every vertex
    ends up labeled with the smallest ``id`` in its component — the
    canonical form of "group near-duplicates, keep one".

    Output: (``id_col``, ``component``). Vertices with no edges are
    their own singleton component. The fixpoint is unique, so the
    result is deterministic regardless of execution order (and
    SQL-replayable with a recursive CTE).

    Scale shape: only the subgraph actually touched by edges iterates
    — vertices with no edges are singleton components by definition
    and never enter the loop, so per-round cost is O(E), independent
    of corpus size (a near-dup edge set is a sliver of the corpus).
    Each round is one equi-join of the pinned edge list against the
    active label table plus one map-side-combinable min-groupBy,
    rounds bounded by the largest component's diameter (dedup
    components are clique-ish, so typically 2-3). Labels are pinned
    each round — ``persist()`` on ordinary rounds with the
    convergence probe as the materializing action, a lazy
    ``localCheckpoint`` every third round to truncate the iterative
    lineage — so each round costs ONE job, not two (use
    ``setCheckpointDir`` + ``checkpoint()`` on a real cluster for
    fault tolerance). The driver-side loop holds no data —
    the convergence probe is a one-row type-agnostic checksum
    aggregate (sum of xxhash64 over the label rows; the id set is
    fixed across rounds, so an unchanged sum means unchanged labels up
    to a ~2^-64 collision). Stale round pins are released only at
    checkpoint rounds (:class:`_PinLedger`, ADVICE r11) — at most
    three small ``(id, component)`` tables are pinned at once, and up
    to three may remain pinned at convergence (the returned frame's
    own cache chain; the session's LRU store evicts them under
    pressure).
    """
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).unionByName(
        edges.select(F.col(dst_col).alias("_s"), F.col(src_col).alias("_d"))
    )
    # pin the edge list before iterating: it is joined once per round,
    # and an unpinned edge lineage (e.g. the whole LSH→Jaccard verify
    # chain) would recompute in EVERY round
    e = e.localCheckpoint(eager=True)
    # iterate ONLY over edge endpoints; everything else is a singleton
    labels = e.select(F.col("_s").alias("_id")).distinct().select(
        "_id", F.col("_id").alias("component")
    )
    prev_sum = None
    converged = False
    ledger = _PinLedger()
    for _it in range(max_iter):
        msgs = (
            e.join(labels, e["_s"] == labels["_id"])
            .select(F.col("_d").alias("_id"), "component")
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("_id")
            .agg(F.min("component").alias("component"))
        )
        # lineage control, one job per round (VERDICT r10 next #2):
        # r9's unconditional localCheckpoint(eager=True) spent an
        # extra materialization job EVERY round on top of the
        # convergence probe — a pure per-round constant. Instead the
        # probe's one-row aggregate is the materializing action:
        # persist() on ordinary rounds, a LAZY localCheckpoint every
        # third round so the nested logical plan never grows past
        # three rounds deep (the probe collect right below computes
        # and saves it in the same job). Near-dup components are
        # clique-ish (diameter 2-3), so the common case runs entirely
        # on the cheap persist path.
        is_ckpt_round = (_it + 1) % 3 == 0
        if is_ckpt_round:
            labels = labels.localCheckpoint(eager=False)
        else:
            labels = labels.persist()
        # convergence probe: one single-row aggregation over
        # checkpointed data per round, instead of an anti-join (which
        # would shuffle both sides every round). xxhash64 over the
        # (_id, component) pair is TYPE-AGNOSTIC — string doc_ids are
        # common in real corpora, and the previous decimal(38,0) cast
        # would NULL out on them under non-ANSI SQL, making the
        # checksum None==None "converge" after one round (ADVICE r2).
        # The label multiset changes ⇒ the hash-sum changes except
        # with ~2^-64 collision probability; the id set itself is
        # fixed across rounds, so equal sums ⇒ unchanged labels.
        # decimal(38,0) accumulator: a plain long sum of 2^63-range
        # hashes overflows (an error under ANSI mode, silent wrap
        # otherwise); the cast is long->decimal so it can never NULL.
        # coalesce: an empty label table (no edges at all) must yield a
        # stable checksum (0), not NULL -> None, so it still converges
        cur_sum = labels.agg(
            F.coalesce(
                F.sum(
                    F.xxhash64(F.col("_id"), F.col("component")).cast(
                        "decimal(38,0)"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s")
        ).collect()[0]["s"]
        # Release older pins ONLY at checkpoint rounds (ADVICE r11):
        # Spark's unpersist is non-cascading but INVALIDATING — it
        # lazily re-caches (i.e. clears the buffers of) every cached
        # plan that still contains the unpersisted plan as a logical
        # subtree, and on persist rounds the just-materialized current
        # cache is exactly such a dependent, so an eager unpersist here
        # forced the next probe to recompute back to the last
        # checkpoint. A materialized localCheckpoint is a LogicalRDD
        # with no cache lineage, so right after a checkpoint round's
        # probe every older persist-round frame can go — newest-first,
        # so no surviving entry ever embeds an unpersisted subtree.
        # Footprint: ≤ 3 small (id, component) tables instead of 1.
        for stale in ledger.pin(labels, released_by_this_pin=is_ckpt_round):
            stale.unpersist()
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # returning mid-propagation labels would silently split real
        # components (duplicate "canonical" docs downstream) — fail
        # loudly instead; chains longer than max_iter need a bigger
        # budget
        raise RuntimeError(
            f"connected_components did not reach the fixpoint within "
            f"max_iter={max_iter} rounds (component diameter exceeds the "
            f"budget); raise max_iter"
        )
    v = vertices.select(F.col(id_col).alias("_id"))
    return (
        v.join(labels, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("component"), F.col("_id")).alias("component"),
        )
    )


def neardup_components(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    max_bucket_size: int | None = SCALE_MAX_BUCKET_SIZE,
) -> DataFrame:
    """End-to-end near-dup grouping: MinHash-LSH candidates →
    exact-Jaccard verification → connected components over the
    surviving pairs, for EVERY doc (non-duplicates are singletons).

    Output: (doc_id, component) where component = min doc_id of the
    group — the production dedup pipeline's final mapping.

    Unlike the standalone oracle queries, the composed pipeline ships
    with the skew guard ON by default (VERDICT r2 #2):
    ``max_bucket_size=SCALE_MAX_BUCKET_SIZE`` drops degenerate LSH
    buckets before pair expansion. Pass ``None`` for exact reference
    semantics. The Jaccard verify stage here is the
    candidate-restricted path, which is always exact — no posting-list
    expansion exists to cap.
    """
    cand = minhash_lsh_candidates(
        df, text_col, n_hashes, band_size, k, max_bucket_size=max_bucket_size
    )
    pairs = ngram_jaccard_pairs(
        df, text_col, k, threshold=threshold, candidates=cand
    ).select("doc_a", "doc_b")
    return connected_components(pairs, df.select("doc_id"))


def survivors_by_quality(
    docs: DataFrame,
    components: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick each dedup group's BEST member instead of its min-id one:
    the canonical doc is the group's max-``quality_col`` row (ties →
    min id — fully deterministic, so oracle-replayable). Real
    pipelines keep the longest / highest-quality copy of a template
    family, not whichever crawled first; min-id canonicalization is
    only the right default when no quality signal exists.

    Plan: one equi-join of the mapping onto the docs (broadcastable
    when the mapping is narrow) + one ``row_number`` window per
    component — the same single-shuffle shape as every keep-first
    operator here. Returns the surviving rows of ``docs`` (all
    original columns), one per component.
    """
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    ranked = docs.join(components, id_col).withColumn(
        "_rn", F.row_number().over(w)
    )
    return ranked.filter(F.col("_rn") == 1).drop("_rn", "component")


def allpairs_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity join via AllPairs prefix filtering
    (Bayardo, Ma & Srikant, WWW'07) — the principled exact-join
    pruning between brute posting-list expansion (every shared
    shingle emits a pair) and MinHash-LSH (approximate).

    Pruning, both sound for Jaccard ≥ t:

    - **prefix filter**: order each doc's shingle set by GLOBAL
      rarity (document frequency asc, hash asc — one canonical order
      everywhere); a pair with J ≥ t MUST collide inside each side's
      first ``n − ⌈t·n⌉ + 1`` shingles, so only that prefix is
      indexed. Common (high-df) shingles — exactly the ones whose
      posting lists explode quadratically — land at the END of the
      order and largely stay un-indexed.
    - **length filter**: J(A,B) ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t; applied
      on the candidate stream before verification.

    Verification is the exact candidate-restricted intersection of
    :func:`ngram_jaccard_pairs` — so the OUTPUT is bit-identical to
    the unpruned exact join at the same threshold (the completeness
    property the tests and the oracle both pin), only the candidate
    generation is cheaper. Plan: shingle stream shuffles once for the
    df-counts, once for the per-doc rank window; prefix postings are
    a strict subset of the full postings; the pair expansion is the
    :func:`_bucket_pairs` HOF pattern over ``(id, n)`` structs, so
    the length filter consumes the count carried on each posting
    entry — no broadcast, no extra join. At t = 0.8 the indexed prefix is ~20% of
    each doc — a ~25× pair-stream reduction on boilerplate-heavy
    corpora.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    stream = word_shingles(df, text_col, k, distinct=True).select(
        "doc_id", _h56(F.col("shingle")).alias("h")
    )
    df_tbl = stream.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    # df_tbl is one row per DISTINCT SHINGLE — vocabulary-scaling
    # (billions at corpus scale), and the static planner's estimate
    # for it is garbage; pin the rank join to SMJ (it shares the
    # groupBy(h) exchange anyway) and let AQE re-broadcast from real
    # sizes at small SFs
    ranked = stream.join(df_tbl.hint("merge"), "h")
    wd = Window.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("h").asc())
    sized = ranked.withColumn("_pos", F.row_number().over(wd)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    prefix = sized.filter(F.col("_pos") <= prefix_len).select("doc_id", "h", "_n")
    # Each posting entry carries the doc's shingle count from the
    # prefix stage, so the length filter runs INSIDE the pair
    # expansion — no join back onto a per-doc length table. (r7
    # broadcast that corpus-sized table twice: fine at sf0.1, a
    # guaranteed driver/executor OOM at 100 TB where it is billions
    # of rows. Broadcast hints are reserved for frames bounded by
    # construction — dims, codebooks, bucket-count frames.)
    posting = prefix.groupBy("h").agg(
        F.collect_list(
            F.struct(F.col("doc_id").alias("id"), F.col("_n").alias("n"))
        ).alias("ids")
    )
    cand_lf = (
        _bucket_pairs_carrying_n(posting)
        # length filter: t·max ≤ min  ⇔  t·|A| ≤ |B| ≤ |A|/t
        .filter(
            F.lit(threshold) * F.greatest("_na", "_nb")
            <= F.least("_na", "_nb").cast("double")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # prefix-filter candidates are NOT bounded by construction (a
    # boilerplate-heavy corpus at a low threshold emits a pair-stream-
    # sized set) — the candidate path merge-pins them; AQE picks
    # broadcast at runtime whenever the actual set is small
    return ngram_jaccard_pairs(
        df, text_col, k, threshold=threshold, candidates=cand_lf
    )


# ---------------------------------------------------------------------------
# exact substring dedup (ExactSubstr)
# ---------------------------------------------------------------------------


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 12,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): remove every substring of at
    least ``min_words`` consecutive words that already occurred
    anywhere earlier in the corpus — at ARBITRARY word offsets, unlike
    :func:`span_dedup`'s block-aligned spans. The reference treatment
    uses a monolithic suffix array; that is a single-machine
    construction, so here the same semantics come from stride-1
    ``min_words``-gram windows, which is exactly the set of length-
    ``min_words`` substrings: a maximal duplicated substring of length
    L ≥ k is covered by its L−k+1 duplicated k-windows, so masking
    every word covered by a duplicated window removes precisely the
    words inside ≥k-word repeats (keep-first: the globally earliest
    occurrence by ``(doc_id, pos)`` survives).

    Plan shape (all relational, no UDFs):

    1. one ``posexplode`` to ~n_words window rows ``(doc_id, pos,
       md5(window))`` — rows are narrow (16-byte hash + ints), so the
       window-hash shuffle moves O(corpus words) small rows, the same
       asymptotics as the suffix-array sort the reference build does,
       but embarrassingly parallel;
    2. ``row_number`` per window hash ordered by ``(doc_id, pos)`` —
       occurrences ranked >1 are duplicate windows;
    3. duplicate windows explode to their ≤k covered positions,
       ``distinct`` per doc, and LEFT ANTI join the word-position
       stream (both keyed by ``doc_id`` — AQE coalesces these into
       one doc-keyed exchange);
    4. ``groupBy(doc_id)`` reassembles surviving words in order.

    Skew: a boilerplate window repeated across the corpus lands one
    hot hash key, but its rows carry only (id, pos) — bounded bytes —
    and the rank discards all but bookkeeping. A hot DOC (one doc with
    millions of words) spreads across window rows evenly.

    Output: ``(doc_id, clean_text, n_words, n_words_kept)`` for every
    input doc, ``clean_text`` empty when everything was masked.

    Reference parity: reference repo has no substring dedup (850-LoC
    indicator ETL); this is part of the §7 training-data extension
    surface.
    """
    k = int(min_words)
    ws = words(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
    # stride-1 windows: doc with n words emits n-k+1 rows (none if n<k)
    wins = base.filter(F.size("ws") >= k).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - F.lit(k - 1)),
                lambda i: F.md5(F.array_join(F.slice(F.col("ws"), i, k), " ")),
            )
        ).alias("pos", "h"),
    )
    rk = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos"))
    dup = (
        wins.withColumn("_rk", rk)
        .filter(F.col("_rk") > 1)
        .select(
            F.col("doc_id").alias("_rm_doc"),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "rm_pos"
            ),
        )
        .distinct()
    )
    word_stream = base.select(
        "doc_id", F.posexplode("ws").alias("pos", "word")
    )
    kept = word_stream.join(
        dup,
        (word_stream["doc_id"] == dup["_rm_doc"])
        & (word_stream["pos"] == dup["rm_pos"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("word")))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.size("ws").cast("bigint").alias("n_words"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_words",
            F.coalesce(F.col("n_words_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_words_kept"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style document fingerprint selection)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 4, window: int = 5
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every word ``k``-gram in POSITION
    ORDER, slide a ``window`` over the hash sequence, keep each
    window's minimum. Guarantees every shared run of at least
    ``window + k − 1`` words produces a shared fingerprint, at
    expected density 2/(window+1) of the shingle count — the
    cheap-at-scale alternative to full-posting Jaccard for overlap
    detection (contamination scans, boilerplate maps).

    Entirely SCAN-LOCAL per document (HOF sequence/transform/slice/
    array_min — the word array never explodes before selection);
    the only shuffle is the final distinct-(doc_id, fp) dedup.
    Documents with fewer shingles than ``window`` contribute one
    fingerprint (the min of what exists); documents shorter than
    ``k`` words contribute none. Reference: N/A (pandas indicator
    ETL — no text ops); re-derived from the public paper.

    The word and shingle-hash arrays are MATERIALIZED in their own
    projections before the lambdas that slice them (r9, caught by the
    sf1 sweep): expressions referenced inside a HOF lambda are not
    CSE'd, so slicing ``words(text)`` directly re-ran the
    normalize+split regex once per shingle and the hash array once
    per window — O(n_words²) work per document, serialized on the
    single scan split a small parquet arrives as. Materialize +
    ``spread`` took the sf1 cell from >16 min (killed) to seconds;
    same trap and fix as ``text.repetition_score``.
    """
    pre = spread(df).select("doc_id", words(F.col(text_col)).alias("_w"))
    wa = F.col("_w")
    n = F.size(wa)
    m = n - F.lit(k) + 1  # shingle count
    hs = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: _h56(F.concat_ws(" ", F.slice(wa, i, F.lit(k)))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    hpre = pre.select("doc_id", hs.alias("_hs"))
    hcol = F.col("_hs")
    nw = F.size(hcol) - F.lit(window) + 1
    fps = (
        F.when(
            nw >= 1,
            F.transform(
                F.sequence(F.lit(1), nw),
                lambda j: F.array_min(F.slice(hcol, j, F.lit(window))),
            ),
        )
        .when(F.size(hcol) >= 1, F.array(F.array_min(hcol)))
        .otherwise(F.array().cast("array<long>"))
    )
    return (
        hpre.select("doc_id", F.explode(F.array_distinct(fps)).alias("fp"))
        .distinct()
    )


def winnow_matches(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
    top_n: int = 20,
    max_doc_freq: int = 256,
) -> DataFrame:
    """Top-``top_n`` document pairs by shared winnowing-fingerprint
    count — the overlap report winnowing exists for. Posting-list
    pair expansion (:func:`_bucket_pairs`, no self-join) over the
    fingerprint stream, one combinable pair count, TakeOrdered
    top-k (never a global sort). Ties break (n_shared desc, doc_a,
    doc_b) — a total order, so the cut at ``top_n`` is
    deterministic.

    ``max_doc_freq``: STOP-FINGERPRINT cap (r9, caught by the sf1
    sweep): a fingerprint shared by m documents expands to m²/2
    pairs inside ONE posting row — corpus-frequent boilerplate
    fingerprints make that quadratic in the corpus and unbounded per
    row. Fingerprints with doc-frequency above the cap are dropped
    BEFORE the collect_set (a combinable count + merge-pinned semi
    join, so the hot row is never built) — the MOSS stop-word
    treatment, same class as MinHash's ``max_bucket_size`` and
    ngram_jaccard's ``max_doc_freq``. A ubiquitous fingerprint
    carries no overlap signal for a top-n report; the cap changes
    nothing below it (sf0.01 oracle hashes unchanged)."""
    fps = winnow_fingerprints(df, text_col, k, window)
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("fp")
    )
    # the keep set scales with the corpus — merge-pinned (§4.23);
    # both aggregates and the semi join share the fp partitioning
    fps = fps.join(keep.hint("merge"), "fp", "left_semi")
    posting = fps.groupBy("fp").agg(F.collect_set("doc_id").alias("ids"))
    return (
        _bucket_pairs(posting)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(
            F.col("n_shared").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# cross-corpus decontamination (train vs eval/benchmark near-dup removal)
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: find train documents near-duplicate
    to ANY eval document. Returns ``(train_id, eval_id, n_inter, n_a,
    n_b, jaccard)`` for every candidate pair with Jaccard ≥
    ``threshold`` — anti-join ``train`` on ``train_id`` (or call
    :func:`decontaminate_survivors`) to get the clean training set.

    The cross-corpus twin of the dedup pipeline: banded MinHash on
    BOTH sides with the same md5 hash family (so near-identical text
    collides in some band regardless of which side it sits on),
    candidates from the (band_idx, band_key) equi-join — never
    train × eval — and exact shingle-set Jaccard verification
    restricted to candidate docs only. Cost at 100 TB: eval sets are
    small (benchmarks), so the band join's eval side broadcasts at
    runtime via AQE (not forced — DESIGN §4.23: train-side candidate
    counts are corpus-scaling) and the verify stage touches only
    candidate docs' shingles.
    """
    sig_t = minhash_signatures(train, text_col, n_hashes, k)
    sig_e = minhash_signatures(eval_df, text_col, n_hashes, k)
    bt = band_rows(sig_t, n_hashes, band_size).withColumnRenamed(
        "doc_id", "train_id"
    )
    be = band_rows(sig_e, n_hashes, band_size).withColumnRenamed(
        "doc_id", "eval_id"
    )
    cand = (
        bt.join(be, ["band_idx", "band_key"])
        .select("train_id", "eval_id")
        .distinct()
    )

    def _sets(df: DataFrame, side: str) -> DataFrame:
        ids = cand.select(F.col(side).alias("doc_id")).distinct()
        return shingle_sets(df.join(ids, "doc_id", "left_semi"), text_col, k)

    pairs = cand.select(
        F.col("train_id").alias("doc_a"), F.col("eval_id").alias("doc_b")
    )
    return verify_jaccard(
        pairs, _sets(train, "train_id"), _sets(eval_df, "eval_id"), threshold
    ).withColumnsRenamed({"doc_a": "train_id", "doc_b": "eval_id"})


def decontaminate_survivors(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
) -> DataFrame:
    """The clean training set: ``train`` minus every document
    :func:`decontaminate` flags (left-anti on ``train_id``)."""
    removed = decontaminate(
        train, eval_df, text_col, threshold, n_hashes, band_size, k
    ).select(F.col("train_id").alias("doc_id")).distinct()
    return train.join(removed, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# maximal duplicated-span audit (Lee et al. 2022 substring dedup, word grain)
# ---------------------------------------------------------------------------


def dup_span_audit(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    min_words: int = 8,
) -> DataFrame:
    """Maximal corpus-duplicated substrings per document — the audit
    behind suffix-array substring dedup ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022), re-expressed at
    word-k-gram grain so it distributes: a word position is COVERED
    when its k-gram occurs >= 2 times corpus-wide; maximal runs of
    covered positions are the duplicated spans. Emits one row per
    span of at least ``min_words`` words:
    ``(doc_id, span_start, span_end, span_words)`` with start/end as
    0-based word offsets (end exclusive).

    Companion to :func:`exact_substring_dedup` (which APPLIES the
    keep-first masking and reassembles clean text): this is the
    ALL-COPIES measurement — every occurrence reports its span,
    including the first — i.e. the duplicated-token audit that
    dataset papers headline, runnable before deciding to dedup.

    Scale shape: posexplode to ~N*W k-gram rows; the duplicated-gram
    marking is a map-side-combinable groupBy on the 56-bit gram hash
    (counts collapse before the shuffle) joined back onto the
    position stream — an equi-join AQE can skew-split when one
    boilerplate gram goes hot, unlike a count-over-window which pins
    each hash to a single reducer. The island merge is ONE per-doc
    window pass (pos - row_number), then a groupBy on the island key.
    No corpus-sized frame is ever broadcast or collected; suffix
    arrays (the paper's single-node structure) are replaced by
    hashing because a distributed suffix array would serialize on a
    global sort of every suffix.
    """
    pre = spread(df).select("doc_id", words(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    n = F.size(w)
    grams = F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        )
    )
    pos = pre.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    ).select("doc_id", "pos", _h56(F.col("gram")).alias("gh"))
    dup = (
        pos.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("gh")
    )
    # the duplicated-hash set scales with the corpus — never a
    # broadcast CLASS (DESIGN §4.23), and the static planner's size
    # estimate for it is garbage. Pin to merge; AQE re-broadcasts at
    # runtime from real shuffle sizes when it is genuinely small.
    covered = pos.join(dup.hint("merge"), "gh", "left_semi")
    isl = covered.withColumn(
        "_grp",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    spans = (
        isl.groupBy("doc_id", "_grp")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("_last"))
        .select(
            "doc_id",
            "span_start",
            (F.col("_last") + F.lit(k)).alias("span_end"),
            (F.col("_last") + F.lit(k) - F.col("span_start")).alias(
                "span_words"
            ),
        )
        .filter(F.col("span_words") >= min_words)
    )
    return spans
