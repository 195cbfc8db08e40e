"""Deduplication operators (LLM-data-pipeline extensions; BASELINE.json
north star). All pure DataFrame/expression implementations — no Python
UDFs — designed so each stage is a single shuffle:

  exact         hash-groupBy on a normalized fingerprint (1 shuffle)
  latest-wins   the reference's W1 window dedup (ETL.sql:95-107)
  minhash+LSH   shingle→minhash signature (row-local, no shuffle; or
                1 shuffle from a (doc, g) shingle set) → band buckets
                (1 shuffle) → candidate pairs → exact-Jaccard verify
  simhash       per-token bit votes (1 shuffle), near-pairs by hamming

Row-local builders (:func:`shingle_arrays`, :func:`minhash_signatures`,
the incremental probe) treat each input row as one document, so ids
must be unique; the (doc, g) shingle-set path (:func:`shingle_set`,
:func:`minhash_signatures_from_shingles`) merges rows sharing an id.

Scale notes (100 TB): the LSH band join is the only all-pairs-risk step;
band buckets bound it to near-duplicate groups. Exact verification
touches only the candidate pairs: the batch path joins them back to the
shingle sets, the incremental probe intersects the pair's two shingle
arrays. The hot-key hazard is a degenerate band (e.g. all-empty docs) —
normalize drops empties up front.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (  # noqa: F401  (s_shingles re-exported for oracle parity)
    s_md5_long,
    s_md5_long_at,
    s_normalize,
    s_shingles,
    s_tokens,
)

# 2^31-1 (prime). Multipliers stay < 2^31 and shingle hashes are 28-bit,
# so (a*h + b) < 2^59 — no int64 overflow anywhere in the plan.
MINHASH_PRIME = 2147483647


def minhash_coefficients(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic LCG-derived (a,b) pairs for the n hash permutations."""
    x, out = seed, []
    for _ in range(n):
        x = (1103515245 * x + 12345) % MINHASH_PRIME
        a = x or 1
        x = (1103515245 * x + 12345) % MINHASH_PRIME
        out.append((a, x))
    return out


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint.

    Returns one row per distinct content: (fingerprint, n_docs,
    keep_doc_id = min id). A single hash aggregation; at scale the md5 is
    computed map-side and only 16-byte keys shuffle.
    """
    return (
        df.select(F.col(id_col), F.expr(f"md5({s_normalize(text_col)})").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_doc_id"))
    )


def latest_wins(
    df: DataFrame, key: str | list[str], order_col: str, tiebreak: str
) -> DataFrame:
    """W1: ROW_NUMBER() OVER (PARTITION BY key ORDER BY order DESC NULLS
    LAST, tiebreak DESC) = 1 — the reference's customer/product dedup
    (ETL.sql:95-107, ELT.sql:94-102) with a deterministic tiebreak.
    ``key`` may be a single column name or a composite-key list."""
    w = Window.partitionBy(key).orderBy(
        F.col(order_col).desc_nulls_last(), F.col(tiebreak).desc()
    )
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def shingle_set(df: DataFrame, id_col: str, text_col: str, k: int = 2) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle).

    Tokenization (two regexes + split) is materialized ONCE per row in a
    first projection; the shingle lambda then slices the ready array.
    Inlining the token expression into the transform() lambda instead
    re-evaluates the regexes per shingle element — ~10× slower.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), F.expr(s_tokens(text_col)).alias("_toks")
    )
    return toks.select("doc", F.explode(F.expr(_shingles_of("_toks", k))).alias("g")).distinct()


def _shingles_of(toks: str, k: int) -> str:
    return (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)),"
        f" i -> array_join(slice({toks}, i, {k}), ' '))"
    )


def _with_shingle_array(df: DataFrame, text_col: str, k: int, sh: str) -> DataFrame:
    """``df`` with ``text_col`` replaced by its distinct k-word shingle
    array ``sh``; tokens are materialized once per row first (see
    :func:`shingle_set`)."""
    keep = [c for c in df.columns if c != text_col]
    toks = df.select(*keep, F.expr(s_tokens(text_col)).alias("_toks"))
    return toks.select(*keep, F.array_distinct(F.expr(_shingles_of("_toks", k))).alias(sh))


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, k: int = 2) -> DataFrame:
    """Row-local twin of :func:`shingle_set`: (doc, sh), one row per
    input row, ``sh`` = array_distinct of the row's k-word shingles
    (same tokenization). No explode, no shuffle — the arrays ride along
    with their document through any later join.

    Precondition: ``id_col`` is unique. :func:`shingle_set`'s distinct
    merged rows sharing an id; here each row stays its own document.
    """
    return _with_shingle_array(df.select(F.col(id_col).alias("doc"), text_col), text_col, k, "sh")


def prefix_filtered_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Lossless prefix-filter candidate pairs for exact Jaccard ≥ threshold
    over a (doc, g) shingle set — the AllPairs/PPJoin bound (Bayardo et al.
    WWW'07; Xiao et al. WWW'08) that keeps the inverted-index self-join off
    hot posting lists.

    Global shingle order = ascending document frequency, (df, g) tiebreak —
    a deterministic total order putting the RAREST shingles first. Each
    doc joins only on the first ``ceil((1-t)*sz) + 1`` shingles of its set
    under that order (its *prefix*).

    Losslessness: let J(A,B) ≥ t and let c be the smallest-ordered element
    of A∩B. |A∩B| ≥ t·|A∪B| ≥ t·|A|. If c were outside A's prefix, ALL of
    A∩B would sit in A's suffix of size sz_a − (⌈(1−t)·sz_a⌉ + 1)
    ≤ t·sz_a − 1 < |A∩B| — contradiction; so c is in A's prefix, and by
    the symmetric argument in B's prefix. The pair therefore surfaces from
    the prefix-only join on g = c. No qualifying pair is lost.

    Scale: a stop-word shingle with document frequency D contributes D²
    rows to the naive inverted-index join but — being globally frequent —
    falls OUTSIDE every non-trivial prefix, so its posting list never
    self-joins. Join volume is Σ_g df_prefix(g)² over the rare tail only
    (property-tested: a shingle shared by ALL docs yields zero candidate
    rows through it — tests/test_dedup_properties.py).

    Shuffle shape: one groupBy(g) for document frequencies, one window
    shuffle on doc to rank each doc's shingles, one equi-join on the
    pruned prefixes. All partial-aggregated; no driver action.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1]")
    dfreq = sh.groupBy("g").agg(F.count("*").alias("_gdf"))
    w_doc = Window.partitionBy("doc").orderBy(F.col("_gdf").asc(), F.col("g").asc())
    ranked = (
        sh.join(dfreq, "g")
        .select(
            "doc", "g",
            F.row_number().over(w_doc).alias("_pos"),
            F.count("*").over(Window.partitionBy("doc")).alias("_sz"),
        )
    )
    prefix = ranked.filter(
        F.col("_pos") <= F.ceil(F.lit(1.0 - threshold) * F.col("_sz")) + 1
    ).select("doc", "g")
    a = prefix.select(F.col("doc").alias("doc_a"), "g")
    b = prefix.select(F.col("doc").alias("doc_b"), "g")
    return (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 2, threshold: float = 0.5,
    candidates: DataFrame | None = None, shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram (k-word shingle) Jaccard near-dup pairs (doc_a < doc_b).

    Without ``candidates`` the pair space is bounded by LOSSLESS prefix
    filtering (:func:`prefix_filtered_candidates`): the inverted-index
    self-join touches only each doc's ⌈(1−t)·sz⌉+1 globally-rarest
    shingles, so a hot shingle (stop-word bigram) never explodes the
    join — output still EXACT at the threshold. With a candidates frame
    (from LSH) that stage is skipped entirely. Either way the
    intersection is computed ONLY for candidate pairs — candidates ⋈
    shingles(doc_a) ⋈ shingles(doc_b) — so the verify work is
    O(|candidates| · shingles/doc), never all-pairs. That is the 100 TB
    path. ``shingles`` lets the caller pass a precomputed (persisted)
    shingle set to avoid re-deriving it.
    """
    sh = shingles if shingles is not None else shingle_set(df, id_col, text_col, k)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc").alias("doc_a"), "g")
    b = sh.select(F.col("doc").alias("doc_b"), "g")
    if candidates is None:
        candidates = prefix_filtered_candidates(sh, threshold)
    inter = (
        candidates.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter
        .join(sizes.withColumnsRenamed({"doc": "doc_a", "sz": "sz_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "sz": "sz_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures_from_shingles(shingles: DataFrame, n_hashes: int = 32) -> DataFrame:
    """MinHash signature from a (doc, g) shingle set: columns m0..m{n-1}.

    One groupBy: each shingle's 28-bit hash is permuted by n affine maps
    map-side; min per permutation is a partial aggregate, so only n longs
    per doc cross the shuffle.
    """
    coeffs = minhash_coefficients(n_hashes)
    h = shingles.select("doc", F.expr(s_md5_long("g", 7)).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return h.groupBy("doc").agg(*aggs)


def _with_minhash_signature(arrays: DataFrame, n_hashes: int) -> DataFrame:
    """Append m0..m{n-1} to a frame holding a shingle-array column
    ``sh`` (:func:`shingle_arrays`), every other column kept. Row-local:
    the 28-bit shingle hashes are computed once per row into an array,
    then m_i = array_min over its affine permutation — the same values
    as :func:`minhash_signatures_from_shingles`'s per-doc min, with no
    explode and no groupBy(doc)."""
    hashed = arrays.withColumn("_h", F.expr(f"transform(sh, g -> {s_md5_long('g', 7)})"))
    return hashed.select(
        *arrays.columns,
        *[
            F.expr(f"array_min(transform(_h, x -> ({a} * x + {b}) % {MINHASH_PRIME}))").alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_coefficients(n_hashes))
        ],
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 2, n_hashes: int = 32
) -> DataFrame:
    """MinHash signature per doc: columns m0..m{n-1}. Row-local — one
    output row per input row, so ``id_col`` must be unique."""
    return _with_minhash_signature(shingle_arrays(df, id_col, text_col, k), n_hashes).drop("sh")


def band_rows(signatures: DataFrame, bands: int = 16) -> DataFrame:
    """LSH band table from an m0..m{n-1} signature frame: one
    (doc, band_idx, bh) row per band, bh = md5 of the band's signature
    slice. This IS the persistable LSH index representation — an
    incremental pipeline stores the corpus's band rows once and probes
    them with each new batch's bands (operators/minhash_index.py)."""
    sig_cols = [c for c in signatures.columns if c.startswith("m")]
    if bands < 1 or len(sig_cols) % bands != 0 or len(sig_cols) // bands < 1:
        raise ValueError(
            f"bands={bands} must evenly divide the {len(sig_cols)}-hash signature "
            "with at least 1 row per band: bands > n_hashes would make every band "
            "hash md5('') (all-pairs explosion), and a non-divisor would silently "
            "ignore trailing signature components"
        )
    rows = len(sig_cols) // bands
    band_exprs = [
        F.md5(F.concat_ws(",", *[F.col(f"m{b * rows + r}") for r in range(rows)])).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = signatures.select("doc", *band_exprs)
    return banded.select(
        "doc",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("bh")) for b in range(bands)])
        ).alias("bk"),
    ).select("doc", F.col("bk.band_idx").alias("band_idx"), F.col("bk.bh").alias("bh"))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 16) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band become a
    candidate pair. Returns distinct (doc_a, doc_b), doc_a < doc_b."""
    stacked = band_rows(signatures, bands)
    l = stacked.select(F.col("doc").alias("doc_a"), "band_idx", "bh")
    r = stacked.select(F.col("doc").alias("doc_b"), "band_idx", "bh")
    return (
        l.join(r, ["band_idx", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_near_dups(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 2, n_hashes: int = 32, bands: int = 16, threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash→LSH→exact-verify near-dup pipeline.

    Output identical in shape to :func:`jaccard_pairs`; the LSH stage
    only prunes the candidate space (16 bands × 2 rows ⇒ P[candidate]
    ≈ 1-(1-j²)^16: >0.999 at j=0.5, ~1.4% at the background j≈0.03).

    Plan structure (what survives a 1000× scale-up):
      1. the shingle set is computed once and persisted — signatures,
         sizes, and verification all reuse it (at petabyte scale this
         persist becomes a parquet checkpoint, same plan shape);
      2. band buckets bound the pair space (never all-pairs);
      3. a signature-agreement prefilter (estimated Jaccard = fraction of
         matching minhash components, kept when est ≥ τ − 2σ with
         σ = sqrt(τ(1−τ)/n)) discards the ~1.4% background-pair floor the
         16×2 banding lets through, so the exact-verify join touches only
         near-real pairs. The 2σ margin keeps the added miss probability
         below the banding's own ~1e-4 at j ≥ τ.

    ``shingles``: an already-persisted (doc, g) frame to reuse — callers
    computing several dedup flavors over the same corpus should derive
    the shingle set once (e.g. plans/llm_ops.py's session cache) so
    tokenization is paid once, not per catalog entry.
    """
    from .pins import fresh_pins, pin

    sh = shingles if shingles is not None else shingle_set(df, id_col, text_col, k).persist()
    # pin the doc-cardinality signature frame (r12 — guide §1.2 "don't
    # compute things twice"): it feeds the band join AND both sides of
    # the estimator join, so without the pin the 32-way min-hash
    # aggregation over the full shingle set re-executed 3× per run
    fresh_pins()
    sigs = pin(minhash_signatures_from_shingles(sh, n_hashes))
    cands = lsh_candidate_pairs(sigs, bands)

    sig_arr = sigs.select(
        "doc", F.array(*[F.col(f"m{i}") for i in range(n_hashes)]).alias("sig")
    )
    est = (
        cands.join(sig_arr.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(sig_arr.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
        .withColumn(
            "est_j",
            F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
            / F.lit(float(n_hashes)),
        )
    )
    margin = 2.0 * (threshold * (1.0 - threshold) / n_hashes) ** 0.5
    pruned = est.filter(F.col("est_j") >= threshold - margin).select("doc_a", "doc_b")
    return jaccard_pairs(
        df, id_col, text_col, k, threshold, candidates=pruned, shingles=sh
    )


def incremental_minhash_near_dups(
    batch: DataFrame, corpus: DataFrame, id_col: str, text_col: str,
    k: int = 2, n_hashes: int = 32, bands: int = 16, threshold: float = 0.5,
    corpus_bands: DataFrame | None = None,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """NEAR-dup twin of the incremental exact-hash batch dedup: LSH-probe
    an arriving batch against a STANDING corpus whose band signatures are
    already persisted — candidates are new×corpus only, never
    corpus×corpus (a growing corpus must never re-pay its own quadratic).

    Returns (doc_a = batch doc, doc_b = corpus doc, jaccard) for exact
    Jaccard ≥ threshold, verified — so the output equals the from-scratch
    batch×corpus answer given LSH recall (same banding math as
    :func:`minhash_lsh_near_dups`).

    ``corpus_bands`` (doc, band_idx, bh) and ``corpus_sigs`` (doc,
    sig array) are the persisted index (operators/minhash_index.py);
    when omitted both are derived in-query (the from-scratch twin the
    equivalence tests compare against). The corpus side of the candidate
    join is then a pure columnar SCAN — no re-shingling, no re-hashing
    of corpus text.

    Plan (row-local — no groupBy(doc), no shingle explode): each batch
    row becomes (doc, sh, m0..m{n-1}) in one projection chain
    (:func:`shingle_arrays`, :func:`_with_minhash_signature`); its band
    rows join the corpus bands on (band_idx, bh); the distinct candidate
    pairs join the batch's (sig, sh) and the corpus signatures for the
    signature-agreement prefilter; the surviving pairs join the corpus
    text and verify exactly by array intersection, |A∩B| / (|A| + |B| −
    |A∩B|). Only pruned pairs' corpus documents are ever tokenized.

    Precondition: ids are unique on each side — every row is one
    document (a duplicated id would be probed as two documents).
    """
    bsig = _with_minhash_signature(shingle_arrays(batch, id_col, text_col, k), n_hashes)
    m_cols = [F.col(f"m{i}") for i in range(n_hashes)]
    bbands = band_rows(bsig.select("doc", *m_cols), bands)
    if corpus_bands is None or corpus_sigs is None:
        csig = minhash_signatures(corpus, id_col, text_col, k, n_hashes)
        corpus_bands = band_rows(csig, bands)
        corpus_sigs = csig.select("doc", F.array(*m_cols).alias("sig"))
    cands = (
        bbands.select(F.col("doc").alias("doc_a"), "band_idx", "bh")
        .join(
            corpus_bands.select(F.col("doc").alias("doc_b"), "band_idx", "bh"),
            ["band_idx", "bh"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    est = (
        cands.join(
            bsig.select(
                F.col("doc").alias("doc_a"), F.array(*m_cols).alias("sig_a"),
                F.col("sh").alias("sh_a"),
            ),
            "doc_a",
        )
        .join(
            corpus_sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .withColumn(
            "est_j",
            F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
            / F.lit(float(n_hashes)),
        )
    )
    margin = 2.0 * (threshold * (1.0 - threshold) / n_hashes) ** 0.5
    pruned = est.filter(F.col("est_j") >= threshold - margin).select("doc_a", "doc_b", "sh_a")
    # corpus text joins the pruned pairs BEFORE tokenizing, so only
    # candidate corpus documents are shingled
    verify = _with_shingle_array(
        pruned.join(
            corpus.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_text_b")),
            "doc_b",
        ),
        "_text_b", k, "sh_b",
    )
    # array_compact: a null text's lone null shingle must not intersect
    # another's (the shingle-set join never matched null = null)
    inter = verify.select(
        "doc_a", "doc_b", "sh_a", "sh_b",
        F.size(F.array_intersect(F.array_compact("sh_a"), "sh_b")).alias("inter"),
    )
    return inter.select(
        "doc_a",
        "doc_b",
        (F.col("inter").cast("double") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")))
        .alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """Token-frequency-weighted SimHash as two 32-bit words:
    (doc, simhash_hi, simhash_lo), each a bigint holding 32 signature
    bits (``simhash_hi`` is 0 when ``bits=32``).

    The two words come from independent 32-bit slices of one md5 digest
    (hex chars 1-8 and 9-16), so widening to 64 bits costs no extra hash
    invocation. One explode over tokens + one groupBy with ``bits``
    conditional sums (per-bit ±1 votes, partial-aggregated map-side);
    the final bit-assembly is a pure projection. 64-bit default per the
    round-1 review: 32-bit signatures force 4-5-bit pigeonhole blocks
    whose buckets skew at scale.
    """
    if bits not in (32, 64):
        raise ValueError(f"bits={bits} must be 32 or 64 (two 32-bit md5 words)")
    lo_bits, hi_bits = 32, bits - 32
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(f"split({s_normalize(text_col)}, ' ')")).alias("w"),
    ).select(
        "doc",
        F.expr(s_md5_long_at("w", 1, 8)).alias("h_lo"),
        F.expr(s_md5_long_at("w", 9, 8)).alias("h_hi"),
    )
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(F.when(F.expr(f"(shiftright(h_lo, {b}) & 1) = 1"), 1).otherwise(-1)).alias(f"vl{b}")
            for b in range(lo_bits)
        ],
        *[
            F.sum(F.when(F.expr(f"(shiftright(h_hi, {b}) & 1) = 1"), 1).otherwise(-1)).alias(f"vh{b}")
            for b in range(hi_bits)
        ],
    )

    def _word(prefix: str, n: int) -> F.Column:
        if n == 0:
            return F.lit(0).cast("long")
        return functools.reduce(
            operator.add,
            [F.when(F.col(f"{prefix}{b}") > 0, F.lit(2**b)).otherwise(F.lit(0)) for b in range(n)],
        ).cast("long")

    # tag the frame with its signature width so block-table consumers can
    # reject a mismatched `bits` argument: a 32-bit sim frame processed
    # as 64-bit would put the whole corpus in one hi-word bucket per
    # block (simhash_hi = 0 everywhere) — an all-pairs explosion the
    # schema alone cannot reveal
    return votes.select(
        "doc",
        _word("vh", hi_bits).alias("simhash_hi", metadata={"simhash_bits": bits}),
        _word("vl", lo_bits).alias("simhash_lo"),
    )


def simhash_block_table(sim: DataFrame, max_hamming: int = 6, bits: int = 64) -> DataFrame:
    """Exploded pigeonhole blocks: (doc, simhash_hi, simhash_lo, blk, val).

    The ``max_hamming + 1`` blocks partition the signature bits,
    word-aligned (no block spans the hi/lo boundary), distributed
    proportionally: 64-bit radius-6 → 4 lo-blocks of 8 bits + 3
    hi-blocks of 10-11 bits; 32-bit → the coarse 4-5-bit blocks.
    Exposed separately so tests can assert bucket occupancy.
    """
    tagged = next(
        (f.metadata.get("simhash_bits") for f in sim.schema.fields if f.name == "simhash_hi"),
        None,
    )
    if tagged is not None and tagged != bits:
        raise ValueError(
            f"signature frame was built with bits={tagged} but blocks requested "
            f"bits={bits}: a width mismatch degrades pigeonhole blocking to "
            f"all-pairs (every hi-word block collides on 0)"
        )
    n_blocks = max_hamming + 1
    lo_bits, hi_bits = 32, bits - 32
    nb_lo = n_blocks if hi_bits == 0 else max(1, round(n_blocks * lo_bits / bits))
    nb_hi = n_blocks - nb_lo

    def _widths(width_bits: int, n: int) -> list[int]:
        base, extra = divmod(width_bits, n)
        return [base + (1 if i < extra else 0) for i in range(n)]

    specs: list[tuple[str, int, int]] = []  # (word col, offset, width)
    for col, wbits, n in (("simhash_lo", lo_bits, nb_lo), ("simhash_hi", hi_bits, nb_hi)):
        if n <= 0:
            continue
        off = 0
        for w in _widths(wbits, n):
            specs.append((col, off, w))
            off += w
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(col, off).bitwiseAND(F.lit((1 << w) - 1)).alias("val"),
            )
            for i, (col, off, w) in enumerate(specs)
        ]
    )
    return sim.select("doc", "simhash_hi", "simhash_lo", F.explode(blocks).alias("b")).select(
        "doc", "simhash_hi", "simhash_lo",
        F.col("b.blk").alias("blk"), F.col("b.val").alias("val"),
    )


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 6, bits: int = 64) -> DataFrame:
    """Pairs with hamming(sig_a, sig_b) <= max_hamming over the two-word
    signature (hamming = popcount(xor hi) + popcount(xor lo)).

    Pigeonhole blocking (the scale path — never all-pairs): split the
    ``bits``-bit signature into ``max_hamming + 1`` blocks; two
    signatures within the radius MUST agree exactly on at least one
    block, so an equi-join per (block_idx, block_value) bounds the
    candidate space, then the exact hamming filter verifies. Exact —
    blocking is lossless by the pigeonhole principle. At 64 bits the
    blocks are 8-11 bits wide (256-2048 buckets each), so candidate
    growth tracks bucket occupancy, not n²; residual hot buckets are
    AQE skew-join territory.
    """
    exploded = simhash_block_table(sim, max_hamming, bits)
    a = exploded.select(
        F.col("doc").alias("doc_a"),
        F.col("simhash_hi").alias("hi_a"), F.col("simhash_lo").alias("lo_a"),
        "blk", "val",
    )
    b = exploded.select(
        F.col("doc").alias("doc_b"),
        F.col("simhash_hi").alias("hi_b"), F.col("simhash_lo").alias("lo_b"),
        "blk", "val",
    )
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
                + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Transitive near-dup clustering: (node, component) where component
    is the MIN node id reachable through ``edges`` — pair lists alone
    don't dedupe (a~b, b~c must collapse into ONE keep decision), so
    this closes them into clusters.

    Min-label propagation: each iteration every node takes the smallest
    label among itself and its neighbors — one shuffle join + one
    partial-aggregated min per iteration, converging in graph-diameter
    iterations (near-dup graphs are unions of near-cliques, so 2-4 in
    practice). ``localCheckpoint`` truncates lineage per iteration (on a
    cluster use a reliable ``checkpoint`` dir); the driver's only action
    is a LIMIT-1 convergence probe, never data. This is the standard
    large-graph CC shape (cf. GraphFrames/Pregel) expressed as plain
    DataFrame ops.

    ``edges``: (doc_a, doc_b) undirected pairs. ``nodes``: one ``node``
    column holding every member incl. singletons (which map to
    themselves).
    """
    sym = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(edges.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .persist()
    )
    labels = nodes.select("node", F.col("node").alias("component")).localCheckpoint()
    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("b"), "component"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.select("node", F.col("component").alias("old")), "node")
            .filter(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            sym.unpersist()
            return labels
    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations "
        "(graph diameter exceeds the bound — raise max_iters)"
    )


def substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_words: int = 20,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT-SUBSTRING duplicate spans across documents — the ExactSubstr
    method of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), which their suffix array serves on one
    machine, re-expressed as a distributed shingle-diagonal plan:

      1. word-tokenize; emit every positioned k-gram (pos, gram);
      2. inverted-index prune: keep only grams appearing in >= 2
         DISTINCT docs (duplicated mass, usually a tiny fraction);
      3. self-join positioned grams on the gram text (d1 < d2);
      4. consecutive shared grams lie on one DIAGONAL (p1 - p2 const):
         a window per (d1, d2, diagonal) ordered by p1 turns runs into
         groups (p1 - row_number is constant within a run);
      5. each group is a maximal shared span of count + k - 1 words;
         keep spans >= ``min_words``.

    Returns (d1, d2, start1, start2, span_words) — word offsets, so a
    curation pass can cut the span from one side (the paper's remedy)
    rather than dropping whole near-identical documents.

    Scale: all-pairs work is bounded by the inverted index — a gram
    participates in the join only if duplicated, and fan-out per gram
    is its doc-frequency. Hot boilerplate grams (df in the thousands)
    are the skew risk at 100 TB: cap them with ``max_df`` (dropping a
    gram can only SPLIT a reported span where that gram occurs, never
    invent one — the documented recall trade, same shape as the
    decontam entry's stop-gram cap). Shuffles are gram-keyed then
    (d1, d2)-keyed; nothing is ever quadratic in corpus size."""
    from .pins import fresh_pins, pin

    # machine-width tokenize/explode (r12 — guide §2.5): a single-file
    # corpus scan left the positioned-k-gram explode on one task; the
    # exchange carries one thin row per doc, 1/(words·k) of the
    # downstream gram work
    toks = docs.select(
        F.col(id_col).alias("d"),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("arr"),
    ).filter(F.size("arr") >= k).repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    grams = toks.select(
        "d",
        F.expr(
            f"explode(transform(sequence(0, size(arr) - {k}), i -> "
            f"struct(i AS pos, array_join(slice(arr, i + 1, {k}), ' ') AS gram)))"
        ).alias("g"),
    ).select("d", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    dup = grams.groupBy("gram").agg(
        F.countDistinct("d").alias("df")
    ).filter(F.col("df") >= 2)
    if max_df is not None:
        dup = dup.filter(F.col("df") <= max_df)
    # pin the pruned positioned-gram frame (r12 — guide §1.2): it feeds
    # BOTH sides of the diagonal self-join, and Catalyst does not dedupe
    # common subtrees — unpinned, the tokenize+explode+df-index pipeline
    # executed twice (see plans/r12/dedup_substring_spans_before.txt:
    # four parquet scans, the df-index aggregate chain twice)
    fresh_pins()
    cand = pin(grams.join(dup.select("gram"), "gram"))
    a = cand.select(
        F.col("gram"), F.col("d").alias("d1"), F.col("pos").alias("p1")
    )
    b = cand.select(
        F.col("gram"), F.col("d").alias("d2"), F.col("pos").alias("p2")
    )
    pairs = a.join(b, "gram").filter(F.col("d1") < F.col("d2")).select(
        "d1", "d2", "p1", "p2", (F.col("p1") - F.col("p2")).alias("diag")
    )
    w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    runs = pairs.withColumn(
        "grp", F.col("p1") - F.row_number().over(w)
    )
    return (
        runs.groupBy("d1", "d2", "diag", "grp")
        .agg(
            F.min("p1").alias("start1"),
            F.min("p2").alias("start2"),
            (F.count("*") + F.lit(k - 1)).cast("long").alias("span_words"),
        )
        .filter(F.col("span_words") >= min_words)
        .select("d1", "d2", "start1", "start2", "span_words")
    )
