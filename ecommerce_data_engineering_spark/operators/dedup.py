"""Deduplication operators for large-scale training-data pipelines.

Four families, all pure DataFrame ops (no Python UDFs in the hot path):

- **exact**       hash-groupBy on normalized content.
- **MinHash+LSH** shingle → minhash signature → band → bucket-join.
- **SimHash**     token-hash bit-vote fingerprint; equal/near fingerprints
                  are near-dup candidates.
- **n-gram Jaccard** candidate pairs sharing a shingle, verified by exact
                  Jaccard on shingle sets.

Cross-engine determinism: hashing is md5-based (functions/hashing.py) so
every stage is reproducible in the DuckDB oracle — Spark's murmur/xxhash
would work equally well in production but can't be oracle-checked.

Scale notes (the whole point of these designs):
- shingling is a map-side explode; the only shuffles are the
  groupBy(doc) for signatures and the groupBy(bucket)/self-join for
  candidates.
- LSH candidate generation never compares all pairs: cost is
  Σ_bucket |bucket|², controlled by band width.  A hot bucket (boiler-
  plate shingle) is the skew risk → ``max_bucket`` caps it, mirroring
  what production dedup pipelines do with stop-shingles.
- exact Jaccard verification joins only candidate pairs back to the
  (doc, shingle) table — linear in candidate count × avg shingles.
"""

from __future__ import annotations

from ..functions.rounding import pround
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import minhash_cols
from ..functions.tokens import (
    chunks_expr, content_key, ngrams_expr, spaced_words, words, words_expr)


# --------------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """One row per distinct content key (functions/tokens.content_key):
    keeper id = min id, plus the duplicate count.  Hash-groupBy — one
    shuffle on the content hash, never on the raw text (hash first so
    wide text doesn't travel through the shuffle at 100 TB)."""
    return (df.select(content_key(F.col(content_col)).alias("content_key"),
                      F.col(id_col))
              .groupBy("content_key")
              .agg(F.min(id_col).alias("keeper_id"),
                   F.count(F.lit(1)).alias("n_copies")))


# ----------------------------------------------------------------- shingling

def word_shingles(df: DataFrame, text_col: str, id_col: str,
                  n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document → (id, shingle).

    Tokenization = functions/tokens.words (lowercase, split on
    non-alphanumeric, drop empties) — chosen because it is expressible
    verbatim in every SQL engine, keeping the oracle exact.

    ``id_col`` must uniquely key the rows of ``df`` (true for every
    caller: doc_id is a fixture primary key).  Under that precondition
    the per-document dedup happens INSIDE the row (``array_distinct``
    over the shingle array) instead of a corpus-wide ``.distinct()``:
    duplicate (id, shingle) pairs can only come from one source row, so
    the result set is identical while the plan loses its only Exchange —
    at scale that shuffle moved every distinct shingle STRING across the
    cluster before any consumer could compress or aggregate it (r11,
    guide §2.4; equivalence pinned in tests/test_expr_parity.py).
    """
    # one F.expr parse, not a Column-API lambda: HOF lambdas cost
    # dozens of py4j round-trips at plan construction (r11; tree is
    # sameSemantics-identical, pinned in tests/test_expr_parity.py)
    w = F.expr(words_expr(f"`{text_col}`"))
    shingle = F.expr(f"array_distinct({ngrams_expr('w', n)})")
    return (df.select(F.col(id_col), w.alias("w"))
              .filter(F.size("w") >= n)
              .select(id_col, F.explode(shingle).alias("shingle")))


# ---------------------------------------------------------------- candidates

def _pairs_sharing(df: DataFrame, keys: list[str], id_col: str,
                   payload: tuple[str, ...] = ()) -> DataFrame:
    """Self-join of ``df`` on its blocking ``keys``: (keys, id_a, id_b,
    then each payload column as <c>_a, <c>_b) for every two rows that
    share them, id_a < id_b.  Not deduplicated — rows sharing several
    keys meet once per key."""
    def side(s: str) -> DataFrame:
        return df.select(*keys, F.col(id_col).alias(f"id_{s}"),
                         *[F.col(c).alias(f"{c}_{s}") for c in payload])
    return (side("a").join(side("b"), keys)
            .filter(F.col("id_a") < F.col("id_b")))


# -------------------------------------------------------------- MinHash LSH

def minhash_signatures(shingles: DataFrame, id_col: str,
                       num_hashes: int = 8) -> DataFrame:
    """(id, mh_0..mh_{k-1}) — one groupBy shuffle, map-side partial min."""
    return shingles.groupBy(id_col).agg(*minhash_cols("shingle", num_hashes))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        num_hashes: int = 8, bands: int = 4,
                        max_bucket: int = 50) -> DataFrame:
    """Band the signature, bucket-join, emit candidate (id_a < id_b) pairs.

    The band rows come from ONE explode over the signature row (not a
    union of per-band selects, which would recompute the signature
    aggregation per band — 4× the work).  ``max_bucket`` drops
    degenerate buckets (a shingle shared by thousands of docs would
    otherwise create a quadratic hot spot — the classic LSH skew
    guard)."""
    rows = num_hashes // bands
    # whole band array in ONE F.expr parse (construction cost, r11;
    # sameSemantics-pinned in tests/test_expr_parity.py)
    band_structs = F.expr("array(" + ",".join(
        f"struct({b} AS band, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS bucket)"
        for b in range(bands)) + ")")
    banded = (signatures
              .select(F.col(id_col), F.explode(band_structs).alias("bb"))
              .select(id_col, F.col("bb.band").alias("band"),
                      F.col("bb.bucket").alias("bucket")))

    sized = banded.withColumn(
        "bsize", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bsize") <= max_bucket)

    return (_pairs_sharing(sized, ["band", "bucket"], id_col)
            .select("id_a", "id_b").distinct())


def prefix_filter_candidates(shingles: DataFrame, id_col: str,
                             threshold: float) -> DataFrame:
    """EXACT set-similarity candidates via prefix filtering (the
    SSJoin/PPJoin family: Chaudhuri et al. ICDE'06, Bayardo et al.
    WWW'07): provably no pair with Jaccard ≥ ``threshold`` is missed,
    at a fraction of the exhaustive inverted-index join's candidate
    volume.

    Under any GLOBAL total order of shingles, two sets with overlap
    ≥ α must share an element within their first ``|X| − α + 1``
    shingles; Jaccard ≥ t implies overlap ≥ ⌈t·|X|⌉ for both sets, so
    joining only each document's ``|X| − ⌈t·|X|⌉ + 1`` first shingles
    finds every qualifying pair.  The order used is (document
    frequency asc, shingle asc): rare shingles come first, so the hot
    shingles that make the exhaustive join quadratic are pushed out of
    every long document's prefix and generate no candidates at all.

    Scale shape: one groupBy for document frequency, one
    co-partitioned join to attach it, one per-document window for the
    prefix rank (bounded by shingle count per doc, never corpus-wide),
    then the inverted-index self-join over the (much smaller) prefix
    table.  Exactness is enforced downstream: callers verify with
    :func:`jaccard_verify`, so the guarantee is end-to-end identical
    results to the exhaustive join — pinned by using the exhaustive
    SQL as the driver oracle for the prefix-filtered query.
    """
    dfreq = shingles.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    ranked = (shingles.join(dfreq, "shingle")
              .withColumn("_rnk", F.row_number().over(w))
              .withColumn("_sz", F.count(F.lit(1))
                          .over(Window.partitionBy(id_col))))
    prefix = ranked.filter(
        F.col("_rnk") <= F.col("_sz")
        - F.ceil(F.lit(threshold) * F.col("_sz")) + 1)
    return (_pairs_sharing(prefix, ["shingle"], id_col)
            .select("id_a", "id_b").distinct())


def jaccard_verify(pairs: DataFrame, shingles: DataFrame, id_col: str,
                   threshold: float) -> DataFrame:
    """Exact Jaccard on shingle sets for candidate pairs only.

    Two reductions before the intersection join pays anything:

    - the shingle table is semi-joined down to CANDIDATE documents
      first (the candidate-id set is tiny relative to the corpus, so
      AQE broadcasts it and the full shingle table never re-shuffles);
    - shingle strings compress to 60-bit md5-prefix keys, so the
      composite-key shuffle moves longs, not n-gram text (the same
      compression the decontamination join uses; a cross-doc 60-bit
      collision is ~2^-60 per shingle pair — far below the engines'
      own float rounding guard).

    At fixture scale this is roughly cost-neutral end-to-end (the two
    eager checkpoints serialize what was one parallel job), but the
    shape is what survives a 100 TB corpus: the old plan re-shuffled
    the ENTIRE shingle table on (id, shingle-string) for the
    intersection join; this one moves only candidate-doc long keys.
    """
    # pairs has three consumers (the id-set projection twice + the
    # intersection join); without a materialization barrier the whole
    # LSH candidate pipeline upstream re-executes per consumer.
    # persist (not localCheckpoint): CacheManager dedups the identical
    # plan across invocations, so a long-lived session reuses one
    # entry per (session, input) instead of accumulating checkpoint
    # RDDs per call — pinned by
    # test_minhash_repeat_invocations_reuse_one_cache_entry.
    pairs = pairs.persist()
    ids = (pairs.select(F.col("id_a").alias(id_col))
           .unionByName(pairs.select(F.col("id_b").alias(id_col)))
           .distinct())
    # candidate-doc shingle keys also feed three consumers (sizes +
    # the two sides of the intersection join) — persist so the
    # semi-join + hashing pass over the corpus runs once, not three
    # times.  Bounded by candidate-doc count, not corpus size.
    csh = (shingles.join(ids, id_col, "left_semi")
           .select(F.col(id_col),
                   F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
                    .cast("long").alias("sk"))
           .persist())
    sizes = csh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = csh.select(F.col(id_col).alias("id_a"), "sk")
    sb = csh.select(F.col(id_col).alias("id_b"), "sk")
    inter = (pairs.join(sa, "id_a").join(sb, ["id_b", "sk"])
                  .groupBy("id_a", "id_b")
                  .agg(F.count(F.lit(1)).alias("n_common")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .withColumn("jaccard",
                        pround(F.col("n_common") /
                                (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ------------------------------------------------------------------ SimHash

def simhash(df: DataFrame, text_col: str, id_col: str,
            nibbles: int = 16) -> DataFrame:
    """Nibble-vote SimHash fingerprint (hex-digit granularity).

    Classic SimHash votes per *bit* of each token hash; we vote per hex
    digit (4-bit nibble) of the md5 — same locality property, 4× fewer
    vote rows, and exactly expressible in portable SQL.  Fingerprint =
    ``nibbles``-char bitstring, one char per md5 hex position: '1' when
    the mean digit value of the doc's tokens at that position > 7.5.
    """
    from ..functions.hashing import hex_nibble_value

    # distinct tokens per doc, deduped INSIDE the row (id_col uniquely
    # keys rows in every caller) — same result set as the former
    # corpus-wide .distinct() without its Exchange of raw token strings
    # (r11, guide §2.4; same argument as word_shingles above)
    tok = (df.select(F.col(id_col),
                     F.explode(F.array_distinct(words(F.col(text_col))))
                     .alias("token"))
             .withColumn("h", F.md5(F.col("token"))))
    # one positional-sum aggregate instead of the r1–r10 explode: the
    # old plan multiplied every token row by ``nibbles`` position rows
    # (×32 for the shipped fingerprints — 614M vote rows at 64× data)
    # and paid a groupBy(id, pos) shuffle plus a second groupBy(id)
    # with collect_list+array_sort for the bit concat.  Votes at each
    # position are independent sums, so ONE groupBy(id) with a sum per
    # position computes all of them with map-side partial aggregation
    # and no row multiplication (r11, guide §2.3 "aggregate before you
    # shuffle").  Bit math is unchanged: exact integer sum ÷ count
    # (engine avg() accumulation strategies are unspecified; this is
    # bit-identical everywhere, matters when the mean is exactly 7.5),
    # and concat in position order replaces the pos-sorted collect_list.
    vals = tok.select(
        F.col(id_col),
        *[hex_nibble_value(F.substring(F.col("h"), p, 1)).alias(f"_v{p}")
          for p in range(1, nibbles + 1)])
    agg = vals.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"_v{p}").alias(f"_s{p}") for p in range(1, nibbles + 1)])
    bits = [F.when(F.col(f"_s{p}").cast("double") / F.col("_n") > 7.5,
                   F.lit("1")).otherwise(F.lit("0"))
            for p in range(1, nibbles + 1)]
    return agg.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def simhash_near_dups(fingerprints: DataFrame, id_col: str,
                      width: int = 16, max_hamming: int = 2,
                      chunks: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: pigeonhole chunk blocking, then verify
    hamming distance positionally.

    Blocking key (r11): hamming ≤ ``max_hamming`` can touch at most
    ``max_hamming`` of the ``chunks`` fingerprint chunks, so at least
    ``chunks − max_hamming`` chunks are IDENTICAL — every qualifying
    pair shares at least one (chunks − max_hamming)-sized chunk
    COMBINATION, which is the block key.  The r1–r10 key was one single
    chunk (complete for the same domain, max_hamming ≤ chunks−1, but a
    width/chunks-bit key: at 32-bit fingerprints that is 256 distinct
    buckets no matter the corpus size, so the bucket self-join went
    quadratic at 64× data).  Combination keys are
    (chunks − max_hamming)·width/chunks bits — for the shipped
    (32-bit, hamming ≤ 1, 4 chunks) point: 4 triple-keys of 24 bits,
    which keeps buckets near-singleton as the corpus grows.  The
    hamming verification is unchanged, so the emitted pair set is
    identical (candidates are a superset either way; pinned in
    tests/test_expr_parity.py against the single-chunk union form)."""
    import itertools

    # ADVICE r11: the former ``max(1, chunks - max_hamming)`` clamp
    # silently made the blocking INCOMPLETE for max_hamming >= chunks
    # (a qualifying pair can then differ in every chunk and share no
    # block key) — surface the invalid parameterisation instead.
    if not 0 <= max_hamming < chunks:
        raise ValueError(
            f"max_hamming={max_hamming} must be in [0, chunks={chunks}) "
            f"for pigeonhole blocking to be complete")
    # the fingerprint folds into one signed BIGINT; simhash() yields at
    # most 32 bits (one per md5 hex digit)
    if width > 63:
        raise ValueError(f"width={width} must be at most 63 bits")
    fp = fingerprints
    clen = max(1, width // chunks)
    share = chunks - max_hamming
    combos = list(itertools.combinations(range(chunks), share))
    # all block rows from ONE explode over the fingerprint row — the
    # former per-chunk union re-planned the whole fingerprint pipeline
    # (two aggregations) once per branch AND once per self-join side
    # (8 copies of the subtree in the static plan, r11 probe); the
    # explode reads it once per side (guide §2.4, same fix as the LSH
    # band rows and the connected-components edge build)
    chunk_structs = F.array(*[
        F.struct(F.lit(ci).alias("chunk"),
                 F.concat_ws("", *[
                     F.substring("simhash", c * clen + 1, clen)
                     for c in combo]).alias("ckey"))
        for ci, combo in enumerate(combos)])
    # hamming verification (r11): the old form ran an INTERPRETED
    # higher-order filter (sequence + 2 substrings per position) over
    # every candidate pair AFTER a distinct that shuffled both 32-char
    # fingerprints — at 64× data that was ~53M candidates × 32
    # interpreted node evals, the measured wall of the whole query.
    # Fingerprints are '0'/'1' strings, so the whole fingerprint folds
    # into ONE long per document before the join (conv base-2) and
    # hamming is bit_count(a ^ b) — three codegen'd ops per candidate,
    # no strings in the join payload.  The filter moves BEFORE the
    # distinct (hamming is functionally dependent on the pair, so
    # filter-past-distinct commutes — the DuckDB oracle has applied it
    # pre-distinct since r9 for the same blowup reason), leaving only
    # true near-dup pairs to deduplicate.  Only positions 1..width are
    # folded (a no-op for in-spec inputs, where length(simhash) ==
    # width by construction of simhash()).
    fpl = F.expr(
        f"cast(conv(substring(simhash, 1, {width}), 2, 10) as bigint)")
    blocked = (fp.select(F.col(id_col), fpl.alias("fpl"),
                         F.explode(chunk_structs).alias("cc"))
                 .select(id_col, "fpl",
                         F.col("cc.chunk").alias("chunk"),
                         F.col("cc.ckey").alias("ckey")))
    ham = F.expr("bit_count(fpl_a ^ fpl_b)").cast("int")
    return (_pairs_sharing(blocked, ["chunk", "ckey"], id_col, ("fpl",))
             .select("id_a", "id_b", ham.alias("hamming"))
             .filter(F.col("hamming") <= max_hamming)
             .distinct())


# label-propagation rounds before connected_components stops unconverged
_CC_MAX_ROUNDS = 20


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """Connected components over a near-dup pair graph → (node, component)
    where component = min node id reachable — the canonical-document
    assignment step after candidate verification.

    Iterative min-label propagation (the large-graph standard): each
    round every node takes min(own label, neighbors' labels); converges
    in O(diameter) rounds.  Per round: one join + one groupBy —
    all shuffles on the node id.  ``localCheckpoint`` truncates the
    lineage so plans don't grow with iterations (the classic iterative-
    algorithm trap on Spark).

    Convergence is tested on an exponential schedule (after rounds 1,
    2, 4, 8, 16, and the last of ``_CC_MAX_ROUNDS``), with a single
    scalar aggregate instead of a self-join diff: labels are
    monotonically non-increasing, so Σlabel strictly decreases whenever
    ANY node changed — equal sums at two consecutive checks prove the
    whole gap was a fixpoint.  Small-diameter graphs (the common
    near-dup case) stop within a round or two of converging, while a
    20-round run pays ≤6 driver actions instead of r01's join + count
    every round.
    """
    # both edge directions from ONE pass over pairs (r11): the union
    # form re-executed the pair PLAN once per branch, doubling the
    # dominant cost whenever the edge list derives from an expensive
    # generator (measured on a 32k all-pairs cosine input: the edges
    # stage paid 2x the ~15-min pair compute before the checkpoint).
    # explode(array(fwd, rev)) reads the input once; shuffle volume
    # (distinct over 2|P| rows) is unchanged.
    edges = (pairs.select(F.explode(F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))))
             .alias("e"))
             .select("e.src", "e.dst")
             .distinct()
             .localCheckpoint())
    labels = (edges.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("label", F.col("node")))
    prev_sum = None
    next_check = 1
    for it in range(_CC_MAX_ROUNDS):
        neighbor_min = (edges.join(labels, edges.dst == labels.node)
                        .groupBy("src").agg(F.min("label").alias("nmin")))
        new_labels = (labels.join(neighbor_min,
                                  labels.node == neighbor_min.src, "left")
                      .select(F.col("node"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nmin"), F.col("label")))
                              .alias("label")))
        labels = new_labels.localCheckpoint()
        if (it + 1) == next_check or it == _CC_MAX_ROUNDS - 1:
            next_check *= 2
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    return labels.select(F.col("node"), F.col("label").alias("component"))


# -------------------------------------------------- exact chunk (C4-style)

def chunk_exact_dedup(df: DataFrame, text_col: str, id_col: str,
                      chunk_words: int = 4) -> DataFrame:
    """C4-style exact span dedup: of every globally-repeated
    ``chunk_words``-word chunk, keep ONE occurrence (the first in
    (doc, position) order) and drop the rest, then reassemble each
    document from its surviving chunks.

    C4 removes any three-sentence span that occurs more than once in
    the corpus, keeping one copy; the fixtures' documents have no
    sentence structure, so the unit here is a fixed-width
    non-overlapping word chunk — the mechanics (and the physical plan)
    are identical, only the segmentation differs.

    Returns one row per document: ``n_chunks``, ``n_dropped``, and
    ``kept_md5`` — the md5 of the space-joined surviving chunks, which
    pins the *exact reassembled text* (order included) cross-engine.

    Scale: document bodies never enter a shuffle.  Stage 1 explodes
    only ``(doc, pos, chunk_md5)`` triples and groups by hash to find
    each chunk's global count and first sighting (map-side partial
    aggregation absorbs the volume; a boilerplate hot chunk is exactly
    one reduce key).  Stage 2 distills the DROPPED occurrences — a
    small minority of a real corpus — into one position-list row per
    affected document.  Stage 3 joins that list back to the original
    rows by document id (AQE picks broadcast while the drop-list is
    small; past broadcast size it is still a join of position lists,
    not text) and filters + reassembles the chunk array *in place* on
    the row — no regroup of exploded text, no window over the corpus,
    no driver state.
    """
    w = spaced_words(F.col(text_col))
    staged = (df.select(F.col(id_col), w.alias("_w"))
                .select(id_col, F.expr(chunks_expr("_w", chunk_words))
                        .alias("_chunks")))
    # staged feeds three consumers (hashes→verdicts, hashes→dropped,
    # and the final reassembly join): without a barrier the word-split
    # + chunk-array construction — the dominant per-row cost — runs 3×
    # per invocation.  persist, not localCheckpoint, for the same
    # CacheManager-dedup reason as the minhash pairs frame above.
    staged = staged.persist()
    hashes = staged.select(
        id_col,
        F.posexplode(F.transform("_chunks", F.md5)).alias("pos", "_h"))
    verdicts = (hashes.groupBy("_h")
                .agg(F.count(F.lit(1)).alias("_cnt"),
                     F.min(F.struct(F.col(id_col).alias("d"),
                                    F.col("pos").alias("p"))).alias("_keep")))
    dropped = (hashes.join(verdicts, "_h")
               .filter((F.col("_cnt") > 1)
                       & ~((F.col("_keep.d") == F.col(id_col))
                           & (F.col("_keep.p") == F.col("pos"))))
               .select(id_col, "pos"))
    drops = (dropped.groupBy(id_col)
             .agg(F.collect_set("pos").alias("_drop")))
    kept = F.expr("CASE WHEN _drop IS NULL THEN _chunks"
                  " ELSE filter(_chunks, (c, i) ->"
                  "   NOT array_contains(_drop, i)) END")
    return (staged.join(drops, id_col, "left")
            .select(
                id_col,
                F.size("_chunks").cast("bigint").alias("n_chunks"),
                F.coalesce(F.size("_drop"), F.lit(0)).cast("bigint")
                    .alias("n_dropped"),
                F.md5(F.array_join(kept, " ")).alias("kept_md5"),
            ))


def intradoc_chunk_dedup(df: DataFrame, text_col: str, id_col: str,
                         chunk_words: int = 4) -> DataFrame:
    """Within-document repetition removal: drop every repeat of a
    ``chunk_words``-word chunk *inside the same document*, keeping the
    first occurrence — the cheap, shuffle-free sibling of
    :func:`chunk_exact_dedup` (which dedups corpus-wide).  Production
    pipelines run this tier first: it is a stateless projection, so at
    100 TB it executes inside the file scan with zero shuffle, zero
    state, and prunes the repetition-heavy bulk before any
    corpus-wide stage pays shuffle for it.

    Same output contract as the corpus-wide pass: ``n_chunks``,
    ``n_dropped``, ``kept_md5`` of the reassembled document.
    """
    w = spaced_words(F.col(text_col))
    staged = df.select(
        F.col(id_col), w.alias("_w")).select(
        id_col, F.expr(chunks_expr("_w", chunk_words)).alias("_chunks"))
    # first-occurrence filter: array_position is the 1-based FIRST index
    kept = F.expr("filter(_chunks, (c, i) -> array_position(_chunks, c) = i + 1)")
    return staged.select(
        id_col,
        F.size("_chunks").cast("bigint").alias("n_chunks"),
        (F.size("_chunks") - F.size(kept)).cast("bigint").alias("n_dropped"),
        F.md5(F.array_join(kept, " ")).alias("kept_md5"),
    )
