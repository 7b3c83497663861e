"""Document deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

All hot paths are pure Catalyst expressions (higher-order array functions,
whole-stage codegen) — no Python UDFs.  The same hash formulas exist in
DuckDB dialect (functions/portable.py) so every operator is oracle-checkable
bit-for-bit.

Scale design (100 TB corpus):
* exact_dedup      — one shuffle on md5(text); map-side partial agg.
* shingle set      — explode + distinct: shuffle keyed on (doc_id, shingle).
* jaccard_pairs    — inverted-index self-join on shingle id (NOT a cross
  join): candidate pairs are only docs sharing >=1 shingle; `max_df` drops
  ubiquitous shingles to bound the quadratic blowup on hot shingles (the
  standard stop-shingle cap; same role as GeoMesa's hot-cell salting,
  ShardStrategy.scala:75-83).
* minhash_lsh      — fixed-size signature per doc (16 mins), banded 4x4:
  candidate generation joins on (band, key) — O(near-dups), not O(n^2) —
  then exact-Jaccard verification on the candidates only.
* simhash          — 32-bit signature via bit-vote aggregation; signature
  equality/banding gives O(n log n) near-dup clustering.

Reference parity: GeoMesa has no text dedup; the analog is its stats
Enumeration/TopK distinct machinery (utils/stats/EnumerationStat.scala:23)
and murmur/md5 feature-id hashing (convert2/transforms/IdFunctionFactory
.scala); MinHash banding mirrors Broder '97 / Leskovec MMDS ch.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.functions import portable as pt


def token_hash_rows(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, pos, h) rows: positional tokens with their rolling hash.

    Tokens are exploded BEFORE hashing so the char-fold runs once per token.
    (Building hash arrays with nested higher-order functions lets Catalyst's
    projection collapse inline the whole array expression into every
    element_at(th, i) — O(tokens^2) re-evaluation per doc.)
    """
    return (df
            .select(id_col,
                    F.posexplode(F.expr(pt.tokens(text_col, pt.SPARK)))
                    .alias("pos", "tok"))
            .select(id_col, "pos",
                    F.expr(pt.char_fold("tok", pt.SPARK)).alias("h")))


def shingle_set(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Distinct (id, shingle-hash) rows — the inverted-index input.

    3-gram shingles via lead() over the per-doc token sequence: one shuffle
    keyed on the doc id (bounded per-doc row counts -> no skew at scale).
    """
    w = Window.partitionBy(id_col).orderBy("pos")
    sh_expr = (f"((h * {pt.SHINGLE_MULT} + h2) % {pt.P31} "
               f"* {pt.SHINGLE_MULT} + h3) % {pt.P31}")
    return (token_hash_rows(df, id_col, text_col)
            .withColumn("h2", F.lead("h", 1).over(w))
            .withColumn("h3", F.lead("h", 2).over(w))
            .where(F.col("h3").isNotNull())
            .select(id_col, F.expr(sh_expr).alias("sh"))
            .distinct())


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns (dup_key md5, canonical_id = min id, n_copies) for groups with
    more than one member.  One shuffle; partial agg map-side.
    """
    return (df.groupBy(F.md5(F.col(text_col)).alias("dup_key"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("n_copies"))
            .where(F.col("n_copies") > 1))


DEFAULT_MAX_DF = 10_000


def jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_df: int | None = DEFAULT_MAX_DF,
                  sig_path: str | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Returns (id_a < id_b, jac) with jac >= threshold.  Shingles appearing in
    more than ``max_df`` docs are dropped before pairing (and before set
    sizes are taken): the inverted-index self-join is quadratic in each
    shingle's document frequency, so one ubiquitous shingle would otherwise
    blow up candidate generation — the stop-shingle cap is ON by default and
    the oracle SQL mirrors it.  Pass ``max_df=None`` to disable (exact
    all-shingles semantics, unsafe at corpus scale).
    """
    sh = shingle_set(df, id_col, text_col)
    if sig_path is not None:
        # the shingle set feeds FOUR consumers (hot-shingle pass, sizes,
        # both inverted-index join sides): materialize it once as the
        # write-time artifact and let every consumer scan the parquet
        from geomesa_spark.sources import sigtable
        sh = sigtable.materialize(sh, sig_path, sort_cols=["sh"])
    if max_df is not None:
        hot = (sh.groupBy("sh").count()
               .where(F.col("count") > max_df).select("sh"))
        sh = sh.join(hot, "sh", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (a.join(b, "sh")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_int")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (F.col("n_int").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_int")))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .withColumn("jac", jac)
            .where(F.col("jac") >= threshold)
            .select("id_a", "id_b",
                    F.floor(F.col("jac") * 1e6).cast("long").alias("jac_ppm")))


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.4,
                      id_col: str = "doc_id", text_col: str = "text",
                      bands: int = 4,
                      sig_path: str | None = None) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with exact Jaccard >= threshold.

    Signature of 16 mins banded into `bands` rows-per-band groups; docs
    sharing any band key become candidates; candidates are verified against
    the exact shingle-set Jaccard (so precision is exact; recall is the LSH
    banding recall — deterministic, reproduced verbatim by the oracle).

    ONE aggregation produces both the minhash signature AND the shingle
    set used for exact verification.  With ``sig_path`` that per-doc
    signature table is MATERIALIZED (sources/sigtable.py) — the write-time
    artifact of a real deployment — and all three consumers (band explode,
    verify sides a/b) scan it; without it each consumer re-executes the
    single-shuffle lineage with its own column pruning (Catalyst cannot
    share exchanges across differently-pruned consumers).
    """
    rows = pt.MINHASH_K // bands
    sh = shingle_set(df, id_col, text_col)
    per_doc = sh.groupBy(id_col).agg(
        *[F.expr(pt.minhash_min("sh", j)).alias(f"m{j}")
          for j in range(pt.MINHASH_K)],
        F.collect_set("sh").alias("shset"),
        F.count("*").alias("n_sh"))
    if sig_path is not None:
        from geomesa_spark.sources import sigtable
        per_doc = sigtable.materialize(per_doc, sig_path, sort_cols=[id_col])
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("-", *[F.col(f"m{b * rows + r}").cast("string")
                                    for r in range(rows)]).alias("key"))
        for b in range(bands)]
    bands_df = (per_doc.select(F.col(id_col),
                               F.explode(F.array(*band_structs)).alias("bk"))
                .select(id_col, F.col("bk.band").alias("band"),
                        F.col("bk.key").alias("key")))
    la = bands_df.select(F.col(id_col).alias("id_a"), "band", "key")
    lb = bands_df.select(F.col(id_col).alias("id_b"), "band", "key")
    cand = (la.join(lb, ["band", "key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())

    # exact verify on candidates only, from the same per_doc aggregate
    sa = per_doc.select(F.col(id_col).alias("id_a"),
                        F.col("shset").alias("set_a"), F.col("n_sh").alias("n_a"))
    sb = per_doc.select(F.col(id_col).alias("id_b"),
                        F.col("shset").alias("set_b"), F.col("n_sh").alias("n_b"))
    n_int = F.size(F.array_intersect("set_a", "set_b"))
    jac = n_int.cast("double") / (F.col("n_a") + F.col("n_b") - n_int)
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jac", jac)
            .where(F.col("jac") >= threshold)
            .select("id_a", "id_b",
                    F.floor(F.col("jac") * 1e6).cast("long").alias("jac_ppm")))


MIX_MULT = 2654435761  # Knuth multiplicative constant; h < 2^31 keeps
MIX_MOD = 1 << 60      # h * MIX_MULT < 2^63 (no overflow in either engine)


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 32,
            mix: bool = False) -> DataFrame:
    """SimHash per document (token multiset, bit-vote aggregation).

    The bit votes are `bits` conditional sums inside ONE groupBy over the
    token stream (vote s_b = 2*ones_b - n, so s_b > 0 <=> 2*ones_b > n) —
    no sequence-explode multiplying the shuffle by `bits`; the shuffle
    carries exactly one row per token with map-side partial aggregation.

    Token hashes carry ~31 bits of entropy; for signatures wider than
    that, ``mix=True`` remixes each hash over 60 bits first
    ((h * MIX_MULT) % 2^60 — overflow-free in Spark AND DuckDB, so the
    oracle reproduces it exactly).
    """
    tok = token_hash_rows(df, id_col, text_col).select(id_col, "h")
    if mix:
        tok = tok.withColumn("h", F.expr(f"(h * {MIX_MULT}) % {MIX_MOD}"))
    ones = [F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"o{b}")
            for b in range(bits)]
    per_doc = tok.groupBy(id_col).agg(F.count("*").alias("n"), *ones)
    sig = None
    for b in range(bits):
        bit = (F.when(F.col(f"o{b}") * 2 > F.col("n"),
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0)))
        sig = bit if sig is None else sig + bit
    return per_doc.select(id_col, sig.cast("long").alias("simhash"))


def simhash_pairs(df: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  bands: int = 4, sig_bits: int = 60,
                  sig_path: str | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= ``max_hamming``.

    Pigeonhole banding: the signature split into ``bands`` equal bands —
    two signatures within hamming distance bands-1 MUST agree on at least
    one whole band, so the band equi-join is a lossless candidate
    generator for max_hamming <= bands - 1 (the classic Manku/Jain/Sarma
    simhash dedup layout).  Candidates verify with bit_count(xor) —
    native, no shuffle beyond the band join.

    ``sig_bits`` defaults to 60 (not the display signature's 32): wide
    signatures keep the per-band keyspace large (2^15 per band at 4
    bands) so random collisions — and with them the candidate volume —
    stay near zero at corpus scale; 60 keeps every partial sum inside a
    signed 64-bit value on BOTH engines (DuckDB sums to HUGEINT, Spark
    wraps — bit 63 would diverge).
    """
    sig = simhash(df, id_col, text_col, bits=sig_bits, mix=True)
    if sig_path is not None:
        # write-time signature table: both sides of the band self-join
        # scan the materialized (id, simhash) parquet instead of each
        # re-executing the tokenize + bit-vote lineage
        from geomesa_spark.sources import sigtable
        sig = sigtable.materialize(sig, sig_path, sort_cols=[id_col])
    return simhash_pairs_from_sigs(sig, max_hamming=max_hamming,
                                   id_col=id_col, bands=bands,
                                   sig_bits=sig_bits)


def simhash_pairs_from_sigs(sig: DataFrame, max_hamming: int = 3,
                            id_col: str = "doc_id", bands: int = 4,
                            sig_bits: int = 60) -> DataFrame:
    """Banding + verify over a precomputed ``(id, simhash)`` table — the
    query-time half of ``simhash_pairs``, split out so a deployment (and the
    bench's stage attribution) can reuse a write-time signature table."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding with {bands} bands only guarantees recall for "
            f"hamming <= {bands - 1}")
    width = sig_bits // bands
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("simhash", b * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
        for b in range(bands)]
    bands_df = (sig.select(id_col, "simhash",
                           F.explode(F.array(*band_structs)).alias("bk"))
                .select(id_col, "simhash", F.col("bk.band").alias("band"),
                        F.col("bk.key").alias("key")))
    la = bands_df.select(F.col(id_col).alias("id_a"),
                         F.col("simhash").alias("sig_a"), "band", "key")
    lb = bands_df.select(F.col(id_col).alias("id_b"),
                         F.col("simhash").alias("sig_b"), "band", "key")
    ham = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (la.join(lb, ["band", "key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Drop every doc that near-duplicates a lower-id doc (greedy transitive).

    `pairs` is any (id_a < id_b) near-dup pair set; docs appearing as id_b
    are dropped.  One left-anti join — the standard fuzzy-dedup sweep.
    """
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iters: int = 25) -> DataFrame:
    """Duplicate-cluster assembly: connected components of the near-dup
    pair graph -> ``(node_id, cluster_id)`` with cluster_id = the
    component's minimum node id.

    The canonical step AFTER pair generation in a corpus-dedup pipeline
    (MinHash/SimHash pairs only relate documents two at a time; policy
    decisions — keep one per cluster, canonicalize captions, merge
    lineage — need the transitive closure).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    is one groupBy (per-node min neighbor) + one equi-join, converging in
    O(log^2 n) rounds on any graph shape, independent of component
    diameter (plain min-label propagation needs O(diameter) rounds — a
    chain of near-dups degenerates).  No collect_list: a hub node of
    degree millions costs a groupBy min, never a wide row.  Each round's
    edge set is localCheckpoint-ed (lineage TRUNCATED, not just cached —
    persist alone leaves the logical plan doubling per round and Catalyst
    re-analysis goes exponential; a long-running cluster job would point
    spark.checkpoint.dir at reliable storage and use checkpoint() for
    executor-loss tolerance) and materialized by the convergence probe
    (count + order-insensitive modular hash sum — two driver scalars per
    round).  The checkpoint is LAZY (``eager=False``) so the probe's
    ``first()`` is the job that computes, persists, and truncates the
    round — one Spark job per round instead of two (measured ~20% off
    the loop wall time on small graphs where per-job latency dominates).

    Only nodes that appear in ``pairs`` are labeled; singleton documents
    are their own cluster by definition and can be appended by the caller
    with a left-anti join if a total labeling is needed.
    """
    e0 = (pairs.select(F.col(id_a).cast("long").alias("u"),
                       F.col(id_b).cast("long").alias("v"))
          .where("u IS NOT NULL AND v IS NOT NULL AND u <> v"))
    # orient u > v (parent-pointer form); both star ops preserve it
    edges = (e0.select(F.greatest("u", "v").alias("u"),
                       F.least("u", "v").alias("v")).distinct()
             .localCheckpoint(eager=False))
    prev_chk = None
    for _ in range(max_iters):
        chk = edges.agg(
            F.count("*").alias("n"),
            # modular sum: a raw sum of 64-bit hashes overflows ANSI long
            F.sum(F.pmod(F.xxhash64("u", "v"),
                         F.lit(1_000_000_007))).alias("h")).first()
        if chk["n"] == 0 or prev_chk == (chk["n"], chk["h"]):
            break
        prev_chk = (chk["n"], chk["h"])
        # large-star: link every neighbor LARGER than u to u's min
        # (symmetrize first: large-star is defined on the undirected graph)
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m")))
        large = (sym.join(mins, "u").where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where("u <> v").distinct())
        # small-star: relink every smaller neighbor (and u) to the min of
        # u's smaller neighborhood; edges are already u > v oriented
        smins = (large.groupBy("u").agg(F.min("v").alias("m")))
        small = (large.join(smins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .union(smins.select("u", F.col("m").alias("v")))
                 .where("u <> v")
                 .select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
                 .distinct())
        edges = small.localCheckpoint(eager=False)
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds")
    # at fixpoint every edge is (node -> component root); roots label
    # themselves
    labels = (edges.select(F.col("u").alias("node_id"),
                           F.col("v").alias("cluster_id"))
              .union(edges.select(F.col("v").alias("node_id"),
                                  F.col("v").alias("cluster_id")))
              .distinct())
    return labels


def cluster_labels(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   id_a: str = "id_a", id_b: str = "id_b",
                   max_iters: int = 25) -> DataFrame:
    """TOTAL duplicate-cluster labeling: one row per corpus document with
    ``(node_id, cluster_id)`` where cluster_id is the component's minimum
    doc id and every unpaired document labels itself.

    This is the shape downstream keep/canonicalize policies join on (keep
    ``node_id == cluster_id``, canonicalize captions per cluster_id, count
    cluster sizes) — ``connected_components`` alone labels only the nodes
    that appear in ``pairs``, so each caller previously re-derived the
    singleton append.  Cost on top of the CC loop: one left-anti join on
    the corpus id (broadcast-able when the paired-node set is small, which
    at real dup rates it is).
    """
    labeled = connected_components(pairs, id_a, id_b, max_iters)
    ids = df.select(F.col(id_col).cast("long").alias("node_id"))
    singles = (ids.join(labeled.select("node_id"), "node_id", "left_anti")
               .select("node_id", F.col("node_id").alias("cluster_id")))
    return labeled.union(singles)
