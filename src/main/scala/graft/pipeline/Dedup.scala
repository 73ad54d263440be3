package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.Hashes
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline, smallest-to-
  * largest hammer: exact (hash groupBy), n-gram Jaccard (inverted-index
  * pair generation), MinHash+LSH (band-bucketed candidates), SimHash
  * (hamming banding), embedding cosine (blocked exact; the ANN candidate
  * path is [[Similarity.cosineLshPairs]]).
  *
  * Scale design:
  *   - exact dedup: one shuffle on the content hash, map-side combine.
  *   - n-gram Jaccard: inverted-index pair generation — ONE scan, one
  *     shuffle on shingle, pairs expanded per posting list, never a raw
  *     shingle self-join. Shingles above a document-frequency cap are
  *     dropped from the similarity universe ([[MaxShingleDf]]): a single
  *     hot shingle otherwise creates a quadratic bucket (the classic
  *     skewed-key blowup), and ubiquitous shingles carry no near-dup
  *     signal. The cap is mirrored in the oracle SQL.
  *   - MinHash: signatures computed in ONE aggregation over exploded
  *     shingle hashes (128 permutations as 128 partial-agg min columns —
  *     no |shingles|×|perms| row blowup); LSH bands hash 8 rows each so
  *     candidate generation is an equi-join on (band, bucket): shuffle is
  *     O(docs×bands), independent of pair count.
  *   - SimHash: 64-bit fingerprint from per-token bit votes; near-dup
  *     candidates via 16-bit band equality (hamming ≤ 3 < 4 bands ⇒ some
  *     band equal — exhaustive by pigeonhole).
  *   - every hash is arithmetic ([[Hashes]]) — reproducible in DuckDB, so
  *     all five operators carry full value-level oracles.
  */
object Dedup {

  private val tokens = split(col("text"), " ")

  /** Distinct token 3-gram shingles per doc as a typed flatMap — JVM string
    * ops in one pass. The declarative HOF form
    * (`transform(sequence(...), i -> concat_ws(...))`) computes the same
    * set but ~12× slower: higher-order lambdas are interpreted per element,
    * not codegen'd. Shingle definition (both forms, and the oracle SQL):
    * tokens = split on single space keeping empties; < 3 tokens ⇒ the whole
    * text is the one shingle.
    */
  /** THE shingle definition (one copy — both flatMap producers and the
    * oracle CTEs must agree): tokens = split on single space keeping
    * empties; < 3 tokens ⇒ the whole text is the one shingle; distinct.
    */
  private def shinglesOf(text: String): Array[String] = {
    val t = text.split(" ", -1)
    if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toArray.distinct
    else Array(text)
  }

  private def shingleRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => shinglesOf(text).iterator.map(s => (id, s)) }
      .toDF("doc_id", "shingle")
  }

  /** DuckDB-dialect shingle CTEs shared by the n-gram and MinHash oracles
    * (and the incremental-dedup oracle in [[IncrementalDedup]]).
    */
  private[pipeline] val shingleCtes =
    """toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
      |         THEN list_distinct(list_transform(generate_series(1, len(t)-2),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |         ELSE list_distinct([text]) END) AS shingle
      |       FROM toks)""".stripMargin

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by content hash, keep the lowest doc_id. Output is
    * the keeper per group with its duplicate count.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  val exactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Bag-of-words dedup: same, keyed on the order-insensitive fingerprint —
    * catches token-reordered copies exact dedup misses.
    */
  def bagOfWords(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(concat_ws(" ", array_sort(array_distinct(tokens))).cast("binary")).as("bag_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") > 1)
      .orderBy("keep_id")

  val bagOfWordsSql: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_hash,
      |  min(doc_id) AS keep_id, count(*) AS n_docs
      |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY keep_id""".stripMargin

  // ------------------------------------------------------- n-gram Jaccard

  /** Shingles in more documents than this are dropped from the Jaccard
    * universe (both engines). Bounds the quadratic pair expansion per
    * shingle to MaxShingleDf² and removes boilerplate shingles that carry
    * no near-dup signal — the standard guard that makes the inverted-index
    * join survive Zipfian corpora.
    */
  val MaxShingleDf = 20

  /** Near-dup pairs by exact Jaccard over token 3-gram shingles (threshold
    * 0.8), via inverted-index pair generation: group postings per shingle,
    * cap posting length at [[MaxShingleDf]], expand ordered pairs per
    * posting list, count common shingles per pair. One scan of documents,
    * shuffles on shingle then on (id_a, id_b) — no shingle self-join.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val postings = shingleRows(Tables.documents(spark, sfDir))
      .groupBy("shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) <= MaxShingleDf)
    // per-doc shingle count over the capped universe
    val counts = postings.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    // ordered pairs per posting list (ids sorted ⇒ id_a < id_b) — typed
    // flatMap: the nested transform/struct HOF form emits the same pairs
    // but interpreted per element, which dominates at Σ df² pair volume
    val pairs = postings.where(size(col("ids")) >= 2)
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val out = Seq.newBuilder[(Long, Long)]
        var i = 0
        while (i < ids.length) {
          var j = i + 1
          while (j < ids.length) { out += ((ids(i), ids(j))); j += 1 }
          i += 1
        }
        out.result()
      }
      .toDF("id_a", "id_b")
    val common = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(counts.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("id_b") === col("cb.doc_id"))
      .withColumn("jac_raw",
        col("common").cast("double") / (col("ca.n") + col("cb.n") - col("common")))
      .where(col("jac_raw") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("jac_raw"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  val ngramJaccardSql: String =
    s"""WITH $shingleCtes,
       |keep AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= $MaxShingleDf),
       |sh2 AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
       |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard
       |FROM common
       |JOIN cnt ca ON id_a = ca.doc_id
       |JOIN cnt cb ON id_b = cb.doc_id
       |WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------- MinHash LSH

  val NumPerms = 128
  val NumBands = 16 // 8 rows per band

  /** Deterministic permutation parameters — arithmetic LCG-derived affine
    * hashes, identical in the oracle SQL.
    */
  private[pipeline] val permParams: Seq[(Long, Long)] = Hashes.lcgParams(NumPerms, seed = 42L)

  /** MinHash signatures as one `sig` array column per doc. A signature is a
    * pure function of the document's own text (128 affine mins over its
    * shingle hashes), so it is computed in a single typed map pass — NO
    * shuffle, no |shingles|-row expansion: the earlier explode +
    * 128-partial-min aggregation paid a full shuffle of every exploded
    * shingle hash for values each mapper could finish locally. Arithmetic
    * is the JVM mirror of the Column/SQL forms ([[Hashes.polyHashJvm]] +
    * affine), so the oracle still matches bit-for-bit.
    */
  def minHashSignatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val params = permParams.toArray
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val sig = Array.fill(NumPerms)(Long.MaxValue)
        val shingles = shinglesOf(text)
        var si = 0
        while (si < shingles.length) {
          val h = Hashes.polyHashJvm(shingles(si))
          var i = 0
          while (i < NumPerms) {
            val v = Hashes.affineJvm(h, params(i)._1, params(i)._2)
            if (v < sig(i)) sig(i) = v
            i += 1
          }
          si += 1
        }
        (id, sig)
      }
      .toDF("doc_id", "sig")
  }

  /** LSH candidate pairs: equal (band, band-bucket) buckets; then verified
    * by estimated Jaccard = fraction of equal minhash components ≥
    * threshold.
    */
  def minHashLsh(spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame =
    minHashLshPairs(spark, sfDir, threshold).orderBy("id_a", "id_b")

  /** [[minHashLsh]] without the presentation sort — the form graph
    * consumers ([[clusters]], [[graft.pipeline.Curation]]) use: an edge
    * list does not need the range exchange + sort the oracle output does.
    */
  /** (doc_id, band, bucket) rows from a (doc_id, sig) frame — band rows
    * carry ONLY ids and buckets, so the 128-long signature stays out of
    * every candidate shuffle (re-joined per candidate instead). Shared by
    * the self-dedup path and [[IncrementalDedup]]'s store build/probe.
    */
  private[pipeline] def bandedOf(sigArr: DataFrame): DataFrame =
    sigArr.select(
      col("doc_id"),
      explode(array((0 until NumBands).map { bnd =>
        struct(lit(bnd).as("band"),
          Hashes.foldBucket(slice(col("sig"), bnd * 8 + 1, 8)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  private[pipeline] def minHashLshPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    // the 128-min signature aggregate is the expensive pass and this plan
    // references it FOUR times (both band sides + both sig re-joins);
    // without materialization each reference recomputes the corpus scan +
    // shingle explode + aggregate (exchange reuse only covers the two
    // identical band sides). Materialize.once runs it ONCE — guide §3.3's
    // "materialise an intermediate referenced many times" — through the
    // reliable-checkpoint knob ([[CheckpointDirConf]]) on a cluster.
    val sigArr = Materialize.once(
      minHashSignatures(Tables.documents(spark, sfDir)))
    val banded = bandedOf(sigArr)
    val a = banded.as("a"); val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sigArr.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigArr.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
    candidates
      // native codegen equality count (graft_eqcount) — same value as the
      // interpreted size(filter(zip_with(...))) chain it replaces
      .withColumn("est_jaccard", round(
        call_function("graft_eqcount", col("sig_a"), col("sig_b")).cast("double") / NumPerms, 4))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** DuckDB oracle for [[minHashLsh]] — the same 128 affine mins over the
    * same polynomial shingle hash, same band fold, same estimate.
    */
  def minHashLshSql(threshold: Double = 0.7): String = {
    val minCols = permParams.zipWithIndex.map { case ((a, b), i) =>
      s"min(${Hashes.affineSql("h", a, b)}) AS mh_$i"
    }.mkString(",\n    ")
    val sigList = (0 until NumPerms).map(i => s"mh_$i").mkString("[", ", ", "]")
    s"""WITH $shingleCtes,
       |hs AS (SELECT doc_id, ${Hashes.polyHashSql("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id),
       |sa AS (SELECT doc_id, $sigList AS sig FROM sig),
       |banded AS (
       |  SELECT doc_id, band,
       |    ${Hashes.foldBucketSql("sig[band*8+1 : band*8+8]")} AS bucket
       |  FROM sa CROSS JOIN (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band) bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT id_a, id_b,
       |    round(list_sum(list_transform(generate_series(1, $NumPerms),
       |      i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) / $NumPerms.0, 4) AS est_jaccard
       |  FROM cand JOIN sa x ON cand.id_a = x.doc_id JOIN sa y ON cand.id_b = y.doc_id)
       |SELECT id_a, id_b, est_jaccard FROM est
       |WHERE est_jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------------- SimHash

  val SimHashBits = 64

  /** Per-bit affine hash parameters over the token's polynomial hash: bit i
    * of a token's 64-bit signature is parity of (h*a_i + b_i) mod Prime.
    */
  private val bitParams: Seq[(Long, Long)] = Hashes.lcgParams(SimHashBits, seed = 911L)

  /** Bands: 4 × 16 bits. By pigeonhole, maxHamming=3 flips touch at most 3
    * bands, so every true pair still collides in ≥1 band — candidate
    * generation stays EXACT for hamming ≤ 3 — while 2^16 buckets (vs 2^8
    * with 8-bit bands) shrink each band's quadratic bucket join ~256×.
    */
  val SimHashBands = 4
  private val BandBits = SimHashBits / SimHashBands

  /** 64-bit SimHash fingerprints. Like the MinHash signature, a
    * fingerprint is a pure function of one document's distinct tokens, so
    * the per-bit ±1 votes, the fingerprint assembly, and the band buckets
    * all run in a single typed map pass — NO shuffle (the earlier token
    * explode + 64-partial-sum aggregation shuffled every token hash for a
    * value each mapper could finish locally). Same arithmetic as the SQL
    * oracle: vote > 0 ⇒ bit set, bit 63 added as Long.MinValue (= 2^63 in
    * two's complement; the bits are disjoint so sum == bitwise OR, with no
    * shift-overflow semantics to match across engines), 16-bit band
    * buckets built from the votes (no shifts on the signed fingerprint).
    */
  def simHashFingerprints(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val params = bitParams.toArray
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val votes = new Array[Int](SimHashBits)
        val toks = text.split(" ", -1).distinct
        var ti = 0
        while (ti < toks.length) {
          val h = Hashes.polyHashJvm(toks(ti))
          var i = 0
          while (i < SimHashBits) {
            if (Hashes.affineJvm(h, params(i)._1, params(i)._2) % 2 == 1) votes(i) += 1
            else votes(i) -= 1
            i += 1
          }
          ti += 1
        }
        var fp = 0L
        var i = 0
        while (i < 63) { if (votes(i) > 0) fp += 1L << i; i += 1 }
        if (votes(63) > 0) fp += Long.MinValue
        val buckets = Array.tabulate(SimHashBands) { b =>
          var acc = 0L; var j = 0
          while (j < BandBits) {
            if (votes(b * BandBits + j) > 0) acc += 1L << j
            j += 1
          }
          acc
        }
        (id, fp, buckets)
      }
      .toDF("doc_id", "simhash", "buckets")
  }

  /** SimHash near-dup candidates: 4×16-bit bands; pairs agreeing on ≥1 band
    * are verified by exact hamming distance ≤ maxHamming. Detection is
    * exhaustive for maxHamming < SimHashBands (pigeonhole).
    */
  def simHashPairs(spark: SparkSession, sfDir: String, maxHamming: Int = 3): DataFrame = {
    // the 64-vote fingerprint map is the expensive pass and the banded
    // self-join references it twice — materialize once (guide §3.3),
    // reliable-checkpoint on a cluster ([[CheckpointDirConf]])
    val fps = Materialize.once(
      simHashFingerprints(Tables.documents(spark, sfDir)))
    val banded = fps.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until SimHashBands).map { bnd =>
        struct(lit(bnd).as("band"), element_at(col("buckets"), bnd + 1).as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    val a = banded.as("a"); val b = banded.as("b")
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming.as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** DuckDB oracle for [[simHashPairs]] — same votes, same fingerprint
    * assembly, same band buckets, same hamming verify.
    */
  def simHashPairsSql(maxHamming: Int = 3): String = {
    val votes = bitParams.zipWithIndex.map { case ((a, b), i) =>
      s"sum(CASE WHEN ${Hashes.affineSql("h", a, b)} % 2 = 1 THEN 1 ELSE -1 END) AS v_$i"
    }.mkString(",\n    ")
    val fp = (0 until 63).map(i => s"CASE WHEN v_$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ") +
      " + CASE WHEN v_63 > 0 THEN (CAST(-9223372036854775807 AS BIGINT) - 1) ELSE 0 END"
    val buckets = (0 until SimHashBands).map { b =>
      (0 until BandBits).map(j => s"CASE WHEN v_${b * BandBits + j} > 0 THEN ${1L << j} ELSE 0 END")
        .mkString("(", " + ", ")")
    }.mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(list_distinct(t)) AS token FROM toks),
       |hs AS (SELECT doc_id, ${Hashes.polyHashSql("token")} AS h FROM tok),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM hs GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS simhash, $buckets AS buckets FROM votes),
       |banded AS (
       |  SELECT doc_id, simhash, band, buckets[band + 1] AS bucket
       |  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, ${SimHashBands - 1})) AS band) bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, bit_count(xor(x.simhash, y.simhash)) AS hamming
       |FROM cand JOIN fp x ON cand.id_a = x.doc_id JOIN fp y ON cand.id_b = y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------- near-dup clustering

  /** Connected components over the MinHash-LSH near-dup graph — the step
    * that turns pairwise near-dup output into keep/drop decisions: every
    * doc in at least one pair, labeled with its component's minimum doc_id
    * (the canonical keeper: keep `doc_id == cluster_id`, drop the rest)
    * and the component size.
    */
  def clusters(spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame =
    clustersOf(minHashLshPairs(spark, sfDir, threshold).select("id_a", "id_b"))

  /** Just the (node → component-min) labels, unordered and without sizes —
    * what a keep/drop consumer ([[graft.pipeline.Curation]]) needs; the
    * size join and presentation sort in [[clustersOf]] are report surface.
    */
  def clusterLabels(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    labelsOf(minHashLshPairs(spark, sfDir, threshold).select("id_a", "id_b"))

  /** Min-label propagation over an (id_a, id_b) edge list: each round every
    * node takes the min of its own and its neighbors' labels; converges to
    * the component minimum in O(graph diameter) rounds (near-dup components
    * are small and dense, so diameter is tiny — sf0.01 converges in 2).
    *
    * Scale shape: each round shuffles (node, label) pairs only — two
    * shuffles (neighbor-min aggregate, label join), no payload, no pair
    * blowup. Each round is materialized so round N's plan does not
    * re-execute rounds 1..N-1 — `localCheckpoint` by default; set
    * [[CheckpointDirConf]] to checkpoint reliably on a real cluster
    * (executor loss mid-loop is otherwise unrecoverable). The loop guard
    * is a scalar count — no data reaches the driver.
    */
  def clustersOf(edges0: DataFrame): DataFrame = {
    val labels = labelsOf(edges0)
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(broadcast(sizes), "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("cluster_id", "doc_id")
  }

  /** When set on the session, the propagation loop and the materialized
    * signature/fingerprint frames checkpoint RELIABLY into this directory
    * instead of `localCheckpoint` ([[graft.core.Materialize]]).
    */
  val CheckpointDirConf: String = Materialize.CheckpointDirConf

  /** The propagation loop itself: (doc_id, cluster_id) rows, unordered. */
  def labelsOf(edges0: DataFrame): DataFrame = {
    // each round is materialized: a local checkpoint, or a reliable one
    // under CheckpointDirConf. Round dirs are GC'd by the ContextCleaner
    // once unreferenced when
    // `spark.cleaner.referenceTracking.cleanCheckpoints=true`; on a long
    // loop set that, or point CheckpointDirConf at a run-scoped path and
    // drop it after the labels are consumed.
    val edges = Materialize.once( // reused every round — materialize once
      edges0.select(col("id_a").as("s"), col("id_b").as("d"))
        .union(edges0.select(col("id_b").as("s"), col("id_a").as("d"))))
    var labels = Materialize.once(
      edges.select(col("s").as("node")).distinct().withColumn("lbl", col("node")))
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges.join(labels, col("d") === col("node"))
        .groupBy(col("s").as("n2")).agg(min("lbl").as("nbr_lbl"))
      // local mode: lazy checkpoint — the count action below materializes
      // it, one job per round instead of an eager-checkpoint job plus a
      // count job. Reliable mode is eager by construction; its count then
      // reads checkpointed rows.
      val next = Materialize.once(
        labels.join(nbrMin, col("node") === col("n2"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
            (col("nbr_lbl") < col("lbl")).as("chg")),
        eager = false)
      changed = next.where(col("chg")).count()
      labels = next.select("node", "lbl")
    }
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** DuckDB oracle for [[clusters]]: the minhash-LSH pair query as the edge
    * list, then set-semantics recursive label reachability — `reach` holds
    * every (node, reachable-node) pair, so min(lbl) per node is the
    * component minimum. Near-dup components are tiny, so the closure stays
    * small in the oracle engine.
    */
  def clustersSql(threshold: Double = 0.7): String =
    s"""WITH RECURSIVE
       |edges AS (SELECT id_a, id_b FROM (${minHashLshSql(threshold)}) pairs),
       |bidir AS (SELECT id_a AS s, id_b AS d FROM edges
       |          UNION ALL SELECT id_b, id_a FROM edges),
       |reach(node, lbl) AS (
       |  SELECT s, s FROM bidir
       |  UNION
       |  SELECT b.s, r.lbl FROM bidir b JOIN reach r ON r.node = b.d),
       |cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cc ORDER BY cluster_id, doc_id""".stripMargin

  // -------------------------------------------------- embedding near-dup

  /** Embedding near-dup pairs: EXACT cosine ≥ threshold over all pairs,
    * computed as a blocked pair join — vectors are grouped into `blocks`
    * buckets by id, block pairs (B(B+1)/2 tasks) are joined, and each task
    * scores its two blocks in a primitive-array loop. Same output contract
    * and oracle as a cartesian join, but: one scan, shuffle O(n·B) instead
    * of a broadcast-nested-loop row explosion, and the per-pair math runs
    * as tight JVM float ops instead of interpreted expression folds.
    *
    * SCOPE: this is the exact small-n AUDIT tool, not the pipeline-scale
    * dedup path. Exact thresholded similarity join is inherently O(n²)
    * compute — that is the contract here (measured on these embeddings,
    * every hyperplane-LSH configuration prunes candidates no faster than it
    * loses recall at θ≈66°, so approximate bucketing buys nothing at low
    * thresholds). The flagship embedding-dedup for a 100 TB corpus is the
    * high-cosine ANN form — [[Similarity.cosineLshPairs]] at threshold
    * ≥ ~0.8, wired as `dedup_embedding_ann` — where sign-LSH buckets shrink
    * exponentially and shuffle stays O(vectors × tables). Use this exact
    * form to audit the ANN path's recall on samples, or when n is small.
    */
  /** Hard cap for [[embeddingCosine]]: the explicit small-n contract. The
    * check is a cheap parquet-metadata count, and failing LOUDLY here is
    * the point — an O(n²) audit tool must refuse a corpus-sized input
    * instead of launching a job that cannot finish, so no default surface
    * entry can ever run all-pairs at scale by accident.
    */
  val ExactAuditMaxRows: Long = 100000L

  def embeddingCosine(spark: SparkSession, sfDir: String, threshold: Double = 0.4,
      blocks: Int = 16, maxRows: Long = ExactAuditMaxRows): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    require(n <= maxRows,
      s"embeddingCosine is the exact O(n²) small-n AUDIT tool (cap $maxRows rows, " +
        s"got $n) — at corpus scale use the ANN path (Similarity.cosineLshPairs / " +
        "dedup_embedding_ann) and audit its recall on a sample")
    embeddingCosineOf(e, threshold, blocks)
  }

  /** [[embeddingCosine]] over any (vec_id, embedding) frame. */
  def embeddingCosineOf(embeddings: DataFrame, threshold: Double = 0.4,
      blocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    val grouped = e.groupByKey(r => (r._1 % blocks).toInt)
      .mapGroups((blk, it) => (blk, it.toArray))
      .toDF("blk", "vs")
    val pairs = grouped.as("a").join(grouped.as("b"), col("a.blk") <= col("b.blk"))
      .select(col("a.blk"), col("a.vs"), col("b.blk"), col("b.vs"))
      .as[(Int, Array[(Long, Array[Double])], Int, Array[(Long, Array[Double])])]
      .flatMap { case (ba, va, bb, vb) =>
        // the shared oracle-exact kernel (Similarity.cosJvm) — one
        // definition for every pair family
        val cos = Similarity.cosJvm _
        val out = Seq.newBuilder[(Long, Long, Double)]
        if (ba == bb) {
          var i = 0
          while (i < va.length) {
            var j = i + 1
            while (j < va.length) {
              val c = cos(va(i)._2, va(j)._2)
              if (c >= threshold) {
                val (lo, hi) = if (va(i)._1 < va(j)._1) (va(i)._1, va(j)._1)
                               else (va(j)._1, va(i)._1)
                out += ((lo, hi, c))
              }
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < va.length) {
            var j = 0
            while (j < vb.length) {
              val c = cos(va(i)._2, vb(j)._2)
              if (c >= threshold) {
                val (lo, hi) = if (va(i)._1 < vb(j)._1) (va(i)._1, vb(j)._1)
                               else (vb(j)._1, va(i)._1)
                out += ((lo, hi, c))
              }
              j += 1
            }
            i += 1
          }
        }
        out.result()
      }
      .toDF("id_a", "id_b", "cos")
    pairs.select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  val embeddingCosineSql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin
}
