package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, Tables}

/** Deterministic N× upscale of a driver scale-factor directory — the
  * input side of the sf1 smoke lane (`tools/sf1_smoke.sh`): the scale
  * proof runs the heavy query tails at 10× the graded bench SF and
  * gates on the time ratio, which is only meaningful if the WORKLOAD
  * scales linearly by construction. Each fact table becomes N id-spaced
  * copies (offset `c << 50`, far above the 2^40/2^41 twin offsets the
  * dedup queries add internally), with copy-decorrelation where
  * identical copies would create super-linear cross-copy work:
  *
  *   - `documents.text`: copies ≥ 1 pass through a copy-specific
  *     CHARACTER SUBSTITUTION cipher (`translate` rotating a–z/A–Z/0–9
  *     by a per-copy stride). A string bijection preserves every
  *     within-copy similarity EXACTLY — token boundaries, shingle-set
  *     sizes, word AND char n-gram Jaccard relations, MinHash bucket
  *     geometry — while cross-copy grams share only punctuation runs,
  *     so near-dup work scales ×N. (A first attempt suffixed every
  *     token `_c<N>`; that kept WORD-gram structure but injected the
  *     same char-grams into every doc of a copy, inflating background
  *     char-6-gram similarity and LSH collision rates ~70× — the
  *     cipher keeps char statistics isomorphic instead);
  *   - `embeddings.embedding`: dimensions cyclically rotated by a
  *     copy-specific stride — any fixed permutation preserves all
  *     within-copy distances exactly, while cross-copy cosines decay to
  *     background, so ANN/near-dup candidate work scales ×N;
  *   - relational keys (orderkey/custkey/partkey/suppkey/user_id/
  *     event_id) offset per copy: joins, graphs, and groupBys see N
  *     disjoint replicas — linear by construction.
  *
  * Dimension tables (region, nation) pass through unscaled, exactly as
  * TPC-H holds them fixed across SFs; scaled facts keep their original
  * nation FKs, so dim joins stay broadcast-sized at any scale. */
object ScaleData {

  /** id-key columns to offset, per table */
  private val idCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Zipfian hot-key plant (round-10 skew lane): real 100 TB corpora
    * are not uniform — one bot user, one boilerplate page, one
    * best-selling part can carry ≥10% of a key's rows, and AQE's
    * skew-join splitting does NOT rescue hash aggregations or
    * iterative-join hot keys. With `skew = true`, rows whose driving id
    * ≡ 0 (mod 10) — i.e. 10% of every copy — collapse onto ONE key:
    *
    *   - orders: `o_custkey` → 1 (one customer on 10% of orders — a
    *     hot node in the cust⇄supp trade graph the graph kernels run);
    *   - lineitem: `l_partkey` → 1 on the same hot orders (one part
    *     family in 10% of baskets — a star node in the co-purchase
    *     graph: q186 CC, q155/q180/q209);
    *   - events: `user_id` → 1 (one user with 10% of events — the
    *     q134 salted-join shape at its design load);
    *   - documents: `text` → one fixed string (10% of the corpus one
    *     giant duplicate cluster — the LSH bucket caps and dedup-CC
    *     giant-component path at their design load).
    *
    * The plant key (1) exists in copy 0's id space, below every copy
    * offset and the 2^40/2^41 twin offsets. */
  private val hotText =
    "the quick brown fox jumps over the lazy dog while the slow " +
      "grey wolf watches the bright red hen peck at the dry brown corn " +
      "near the old stone wall under the pale blue sky"

  /** Zipf(s≈1) rank from a deterministic per-row hash: u uniform in
    * [0,1) → floor(D^u) is log-uniform over 1..D, i.e. P(rank r) =
    * (ln(r+1)−ln(r))/ln(D) ∝ 1/r — the classical inverse-CDF sampling
    * of a Zipf-1 law. Top rank carries ln2/ln(D) of the rows (~7.5% at
    * D=10⁴) and rank r carries ~1/r of that: MANY medium-hot keys, the
    * distribution AQE's skew-JOIN splitting cannot rescue a hash
    * AGGREGATE from (round-11 adversarial plant). */
  private def zipfRank(driving: Column, domain: Long): Column = {
    val u = pmod(xxhash64(driving), lit(1000000L)).cast("double") / 1000000.0
    least(greatest(floor(pow(lit(domain.toDouble), u)), lit(1.0)),
      lit(domain.toDouble)).cast("long")
  }

  /** Round-11 adversarial plant (`--skew2`) — the shapes the round-10
    * single-hot-KEY plant (`--skew`) is friendly to:
    *
    *   - KEY domain, full Zipf: `o_custkey` / `l_partkey` / `user_id`
    *     remapped through [[zipfRank]] over their whole per-copy
    *     domain. Unlike one 10% key (which AQE's skew-join handling
    *     can split), a Zipf law puts ~7.5% on rank 1, ~4% on rank 2,
    *     ~2.5% on rank 3… — dozens of medium-hot keys that land in a
    *     few hash partitions TOGETHER, the real shape of customers,
    *     parts and users at 100 TB;
    *   - VALUE domain: one cents value (4999.99 → 499999) planted on
    *     10% of `l_extendedprice` rows — a point mass the
    *     order-statistics family (q36/q142/q149/q167 ride
    *     `Stats.rangePrefixSums`) must absorb into ONE histogram
    *     bucket / prefix range; kernels rebuilt since the round-10
    *     lane (q36) have never seen a skewed value domain;
    *   - TOKEN domain: one token appended to 10% of documents AFTER
    *     the copy cipher (so it is the same token in every copy) — a
    *     posting list spanning 10% of the whole corpus for q93 BM25 /
    *     q96's postings groupBy.
    *
    * Independent of `--skew` (both can be planted at once; the lane
    * runs them separately so a failure names its cause). */
  private val hotCents = 4999.99

  def scaled(spark: SparkSession, baseDir: String, name: String,
      copies: Int, skew: Boolean = false): DataFrame =
    scaled(spark, baseDir, name, copies, skew, skew2 = false)

  def scaled(spark: SparkSession, baseDir: String, name: String,
      copies: Int, skew: Boolean, skew2: Boolean): DataFrame =
    scaled(spark, baseDir, name, copies, skew, skew2,
      clustered = false, giant = false)

  /** Round-12 ANN-geometry plants (VERDICT r12 mandate #2). The driver
    * embeddings are near-isotropic — ANN's adversarial case, where any
    * index's recall tracks the scanned fraction. `clustered` replaces
    * the embedding column with 32 WELL-SEPARATED direction clusters
    * (the IvfSelfTopKSpec fixture at corpus scale: cluster
    * c = hash(vec_id) mod 32 puts its mass on dims (2c, 2c+1) with a
    * small integer-derived within-cluster spread), so the IVF bet has
    * actual structure to exploit and q223 measures what the index buys
    * on a REAL-shaped corpus. `giant` additionally collapses ~30% of
    * all vectors into cluster 0 — one dense direction region → one
    * giant IVF cell → the corpus⋈corpus cell equi-join's skew leg,
    * which `Similarity.ivfSelfTopK`'s Scaladoc claims AQE skew-split
    * absorbs but (before this lane) nothing measured. Construction is
    * per-FINAL-id and integer-deterministic, so copies stay disjoint
    * in id space while sharing the 32 cluster directions — cells do
    * not align with copies, which is the honest (harder) layout. */
  def scaled(spark: SparkSession, baseDir: String, name: String,
      copies: Int, skew: Boolean, skew2: Boolean,
      clustered: Boolean, giant: Boolean): DataFrame = {
    val base = Tables.t(spark, baseDir, name)
    if (!idCols.contains(name)) base
    else {
      val dim = if (name == "embeddings")
        base.select(max(size(col("embedding")))).head().getInt(0)
      else 0
      // per-copy key domain for the Zipf remap (one tiny column-pruned
      // agg on the base table; 0 when the table has no zipfed key)
      val zipfDomain: Long = if (!skew2) 0L else name match {
        case "orders" => base.agg(max(col("o_custkey"))).head().getLong(0)
        case "lineitem" => base.agg(max(col("l_partkey"))).head().getLong(0)
        case "events" => base.agg(max(col("user_id"))).head().getLong(0)
        case _ => 0L
      }
      (0 until copies).map { c =>
        val offset = c.toLong << 50
        var df = idCols(name).foldLeft(base) { (d, k) =>
          d.withColumn(k, col(k) + lit(offset)) }
        if (c > 0 && name == "documents") {
          val lower = ('a' to 'z').mkString
          val upper = ('A' to 'Z').mkString
          val digit = ('0' to '9').mkString
          def rot(s: String, by: Int): String = {
            val n = s.length
            val k = ((by % n) + n) % n
            s.substring(k) + s.substring(0, k)
          }
          df = df.withColumn("text", translate(col("text"),
            lower + upper + digit,
            rot(lower, c) + rot(upper, c) + rot(digit, c)))
        }
        if (c > 0 && name == "embeddings") {
          val s = (c * 13) % dim max 1
          df = df.withColumn("embedding",
            concat(slice(col("embedding"), s + 1, dim - s),
              slice(col("embedding"), 1, s)))
        }
        if ((clustered || giant) && name == "embeddings") {
          // 32 direction clusters on dim pairs (2k, 2k+1); `giant`
          // routes ~30% of ids to cluster 0 (hash-spread, not id-block,
          // so the dense region is interleaved across the id space)
          val k = 32
          val uniform = pmod(xxhash64(col("vec_id")), lit(k.toLong))
          val cl = if (!giant) uniform
            else when(pmod(xxhash64(col("vec_id") + 7), lit(10L)) < 3, lit(0L))
              .otherwise(uniform)
          val d0 = (cl * 2) % dim
          val d1 = (cl * 2 + 1) % dim
          df = df.withColumn("embedding",
            transform(sequence(lit(0), lit(dim - 1)), d =>
              when(d === d0, (lit(1.0) + pmod(col("vec_id"), lit(5L))
                .cast("double") * 0.01).cast("float"))
                .when(d === d1, (lit(0.3) + pmod(col("vec_id"), lit(7L))
                  .cast("double") * 0.02).cast("float"))
                .otherwise(lit(0.05f))))
        }
        if (skew) name match {
          case "orders" => df = df.withColumn("o_custkey",
            when(pmod(col("o_orderkey"), lit(10)) === 0, lit(1L))
              .otherwise(col("o_custkey")))
          case "lineitem" => df = df.withColumn("l_partkey",
            when(pmod(col("l_orderkey"), lit(10)) === 0, lit(1L))
              .otherwise(col("l_partkey")))
          case "events" => df = df.withColumn("user_id",
            when(pmod(col("event_id"), lit(10)) === 0, lit(1L))
              .otherwise(col("user_id")))
          case "documents" => df = df.withColumn("text",
            when(pmod(col("doc_id"), lit(10)) === 0, lit(hotText))
              .otherwise(col("text")))
          case _ => ()
        }
        if (skew2) name match {
          // Zipf keys stay inside the copy's id space (offset + rank),
          // so joins/graphs still see N disjoint replicas — the law is
          // planted within each copy, scaling stays linear
          case "orders" => df = df.withColumn("o_custkey",
            lit(offset) + zipfRank(col("o_orderkey"), zipfDomain))
          case "lineitem" =>
            df = df.withColumn("l_partkey",
              lit(offset) + zipfRank(col("l_orderkey") * 8
                + col("l_linenumber"), zipfDomain))
            df = df.withColumn("l_extendedprice",
              when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
                col("l_partkey")), lit(10)) === 0, lit(hotCents))
                .otherwise(col("l_extendedprice")))
          case "events" => df = df.withColumn("user_id",
            lit(offset) + zipfRank(col("event_id"), zipfDomain))
          // appended AFTER the copy cipher → the identical token in
          // every copy: one posting list spanning 10% of the corpus
          case "documents" => df = df.withColumn("text",
            when(pmod(col("doc_id"), lit(10)) === 0,
              concat(col("text"), lit(" zqhotterm")))
              .otherwise(col("text")))
          case _ => ()
        }
        df
      }.reduce(_.unionByName(_))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleData <baseSfDir> <outDir> [copies=10] [--skew] " +
        "[--skew2] [--clustered] [--giant] [--tables=a,b,...]")
    val (baseDir, outDir) = (args(0), args(1))
    val copies = args.lift(2).filterNot(_.startsWith("--")).map(_.toInt)
      .getOrElse(10)
    val skew = args.contains("--skew")
    val skew2 = args.contains("--skew2")
    val clustered = args.contains("--clustered")
    val giant = args.contains("--giant")
    // --tables=embeddings,region: build only the named tables — the
    // third-decade kNN lane needs a 300-copy corpus of ONE table, and
    // scaling 180M lineitem rows nobody reads would dominate the build
    val tables = args.find(_.startsWith("--tables="))
      .map(_.stripPrefix("--tables=").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Tables.Names)
    val unknown = tables.filterNot(Tables.Names.contains)
    require(unknown.isEmpty, s"unknown --tables entries: $unknown " +
      s"(known: ${Tables.Names.mkString(",")})")
    val spark = Session.builder()
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tables.foreach { name =>
      scaled(spark, baseDir, name, copies, skew, skew2, clustered, giant)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"scaled $name x$copies${if (skew) " +skew" else ""}" +
        s"${if (skew2) " +skew2" else ""}" +
        s"${if (clustered) " +clustered" else ""}" +
        s"${if (giant) " +giant" else ""} -> $outDir/$name.parquet")
    }
    spark.stop()
  }
}
