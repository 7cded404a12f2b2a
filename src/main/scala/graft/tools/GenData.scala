package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for the SCALE SOAK
  * (BASELINE.md "sf1 scaling"): produces schema-compatible copies of
  * the TESTDATA tables at any multiple of the sf0.1 sizes, so the
  * expensive catalog queries can be timed at 10× without touching the
  * read-only driver data. Distributions mirror what the driver data
  * measurably does (31-word vocabulary, 10-100-token docs, ~1% planted
  * near/exact dup documents, ~linear planted embedding near-dups,
  * uniform 5-type events over a 30-day window, 15 users per 1000
  * events) — so a 10× run extrapolates the REAL data's scaling
  * behavior, fixed vocabulary and all.
  *
  * Everything derives from Spark's Murmur3 `hash(...)` of the row id:
  * no RNG state, so any slice of any table is reproducible in
  * isolation and the generator parallelizes trivially (`spark.range`
  * → column algebra → parquet; no driver-side data).
  *
  * Usage: runMain graft.tools.GenData <outDir> <mult> [tables] [vocab]
  *   mult=1 ≈ sf0.1 row counts; mult=10 ≈ sf1.0. The optional third
  *   arg is a comma-separated table subset (e.g. "documents") — the
  *   post-cap soak generates 1M docs (mult 200) without paying for
  *   120M lineitem rows nobody reads. The optional fourth arg picks
  *   the document vocabulary: `tight` (default — the 31-word closed
  *   vocab matching the driver data, the WORST case for capped exact
  *   mining: every shingle is hot) or `zipf` (a ~1e5-token vocabulary
  *   drawn log-uniformly by rank, i.e. pmf ∝ 1/rank — Zipf s≈1, the
  *   realistic web-corpus df distribution where the cap engages only
  *   on head-token shingles). Pass "-" for tables to keep all tables
  *   with a vocab choice.
  */
object GenData {
  /** Deterministic iid-uniform component in [-0.5, 0.5]: Murmur3 of
    * (src·64 + dim j, seed) quantized to 1/2000 steps. THE embedding
    * formula — BandSoak's `skew:` mode regenerates vectors with it so
    * planted-cluster soaks measure the same distribution GenData
    * writes (one definition; a drifted copy would silently soak a
    * different geometry). */
  def uniformComp(src: Column, j: Column, seed: Int): Column =
    (pmod(hash(src * 64 + j, lit(seed)), lit(2001)) - 1000) / 2000.0

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Deterministic ~1e12-range hash. Two 32-bit Murmur3 draws are
    * combined into a long BEFORE the caller's modulus is applied — a
    * single pmod(hash, 1000003) (the original form) silently capped
    * every downstream `% N` with N > 1e6 (order totals, price tails,
    * the 30-day event window) and bounded key spaces at large `mult`.
    * The multiplier keeps hash1's contribution under 2^62 so the sum
    * cannot overflow a long. */
  private def h(c: Column, seed: Int): Column =
    pmod(hash(c, lit(seed)).cast("long") * 2654435761L
      + hash(c, lit(seed + 10007)).cast("long"), lit(999999999989L))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = args(1).toInt
    val tables: Option[Set[String]] =
      if (args.length > 2 && args(2) != "-") Some(args(2).split(",").toSet)
      else None
    val zipfVocab = args.length > 3 && args(3) == "zipf"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    gen(spark, outDir, mult, tables, zipfVocab)
    spark.stop()
  }

  def gen(spark: SparkSession, outDir: String, mult: Int,
      tables: Option[Set[String]] = None,
      zipfVocab: Boolean = false): Unit = {
    def write(df: DataFrame, name: String, parts: Int): Unit =
      if (tables.forall(_.contains(name)))
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")

    val nCust = 15000L * mult
    val nPart = 20000L * mult
    val nSupp = 1000L * mult
    val nOrders = 150000L * mult
    val nLines = 600000L * mult
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*),
        col("id").cast("int") + 1).as("r_name")), "region", 1)
    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation", 1)

    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(h(col("id"), 1), lit(25)).cast("int").as("c_nationkey"),
      ((h(col("id"), 2) % 1100000) / 100.0 - 999.99).as("c_acctbal"),
      element_at(array(segs.map(lit): _*),
        pmod(h(col("id"), 3), lit(5)).cast("int") + 1).as("c_mktsegment")),
      "customer", 4 * mult)

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      pmod(h(col("id"), 4), lit(25)).cast("int").as("s_nationkey"),
      ((h(col("id"), 5) % 1100000) / 100.0 - 999.99).as("s_acctbal")),
      "supplier", 1 * mult)

    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD")
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(lit("part "), element_at(array(Vocab.map(lit): _*),
        pmod(h(col("id"), 6), lit(31)).cast("int") + 1), lit(" "),
        col("id")).as("p_name"),
      concat(lit("Brand#"), pmod(h(col("id"), 7), lit(50))).as("p_brand"),
      element_at(array(types.map(lit): _*),
        pmod(h(col("id"), 8), lit(6)).cast("int") + 1).as("p_type"),
      (pmod(h(col("id"), 9), lit(50)).cast("int") + 1).as("p_size"),
      ((h(col("id"), 10) % 200000) / 100.0 + 900.0).as("p_retailprice")),
      "part", 4 * mult)

    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    write(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(h(col("id"), 11), lit(nCust)).as("o_custkey"),
      element_at(array(Seq("F", "O", "P").map(lit): _*),
        pmod(h(col("id"), 12), lit(3)).cast("int") + 1).as("o_orderstatus"),
      ((h(col("id"), 13) % 45000000) / 100.0 + 1000.0).as("o_totalprice"),
      to_timestamp(date_add(lit("1992-01-01").cast("date"),
        pmod(h(col("id"), 14), lit(2400)).cast("int"))).as("o_orderdate"),
      element_at(array(prios.map(lit): _*),
        pmod(h(col("id"), 15), lit(5)).cast("int") + 1)
        .as("o_orderpriority")), "orders", 8 * mult)

    write(spark.range(nLines).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pmod(h(col("id"), 16), lit(nPart)).as("l_partkey"),
      pmod(h(col("id"), 17), lit(nSupp)).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pmod(h(col("id"), 18), lit(50)) + 1).cast("double").as("l_quantity"),
      ((h(col("id"), 19) % 9000000) / 100.0 + 1000.0).as("l_extendedprice"),
      (pmod(h(col("id"), 20), lit(11)) / 100.0).as("l_discount"),
      (pmod(h(col("id"), 21), lit(9)) / 100.0).as("l_tax"),
      element_at(array(Seq("A", "N", "R").map(lit): _*),
        pmod(h(col("id"), 22), lit(3)).cast("int") + 1).as("l_returnflag"),
      element_at(array(Seq("F", "O").map(lit): _*),
        pmod(h(col("id"), 23), lit(2)).cast("int") + 1).as("l_linestatus"),
      to_timestamp(date_add(lit("1992-01-01").cast("date"),
        pmod(h(col("id"), 24), lit(2500)).cast("int"))).as("l_shipdate")),
      "lineitem", 16 * mult)

    // events: ts emitted as a real TIMESTAMP (parquet INT64 micros).
    // Earlier generator versions wrote raw int64 nanos, which Spark's
    // Queries.events nanos branch reads fine but DuckDB sees as plain
    // BIGINT — that single encoding detail excluded every event-time
    // query from the gen-corpus oracle sweep. The micro values are the
    // old nano values exactly (every nano term was a multiple of
    // 1000), so pre-existing gen-corpus pins are unchanged.
    val evTypes = Seq("view", "click", "purchase", "signup", "error")
    val baseMicros = 1704067200L * 1000000L // 2024-01-01 UTC
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(baseMicros)
        + h(col("id"), 25) % (30L * 86400) * 1000000L
        + h(col("id"), 26) % 1000000L).as("ts"),
      pmod(h(col("id"), 27), lit(nUsers)).as("user_id"),
      element_at(array(evTypes.map(lit): _*),
        pmod(h(col("id"), 28), lit(5)).cast("int") + 1).as("event_type"),
      ((h(col("id"), 29) % 56021) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(col("id"), 30), lit(100)),
        lit("}")).as("props")), "events", 8 * mult)

    // documents: uniform tokens from the 31-word vocab; ~1% planted
    // near-dups (doc_id%100==99 copies doc_id-1 with every ~13th token
    // replaced) and ~0.5% planted exact dups (doc_id%200==98 copies
    // doc_id-2 verbatim) — the linear pair structure the driver data
    // shows (25 pairs @500 docs → 256 @5000)
    val docBase = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        col("id").as("src_id"),
        lit(false).as("perturb"))
    val srcSwitched = docBase
      .withColumn("src_id",
        when(col("doc_id") % 100 === 99, col("doc_id") - 1)
          .when(col("doc_id") % 200 === 98, col("doc_id") - 2)
          .otherwise(col("doc_id")))
      .withColumn("perturb", col("doc_id") % 100 === 99)
    val nToks = pmod(h(col("src_id"), 31), lit(91)) + 10
    // vocab draw per token position: tight = uniform over the 31-word
    // closed vocab; zipf = rank r = floor(V^u) for u uniform in [0,1)
    // over V = 1e5 ranks — P(rank <= r) = ln r / ln V, pmf ∝ 1/r, the
    // Zipf s≈1 shape. Same hash stream either way, so the planted
    // near/exact-dup structure (src_id copy + perturbation sites) is
    // identical across modes and soaks compare like for like.
    def vocabToken(src: Column, i: Column): Column =
      if (!zipfVocab)
        element_at(array(Vocab.map(lit): _*),
          pmod(hash(src * 131 + i, lit(32)), lit(31)).cast("int") + 1)
      else
        concat(lit("t"), floor(pow(lit(100000.0),
          pmod(hash(src * 131 + i, lit(32)), lit(1000000))
            .cast("double") / 1000000.0)).cast("long"))
    val toks = transform(sequence(lit(0L), nToks - 1), i =>
      when(col("perturb") && pmod(i + col("doc_id") * 7, lit(13)) === 0,
        concat(lit("u"), col("doc_id"), lit("x"), i))
        .otherwise(vocabToken(col("src_id"), i)))
    val docs = srcSwitched
      .withColumn("text", array_join(toks, " "))
      .select(col("doc_id"), col("text"),
        element_at(array(Seq("en", "en", "es", "de", "fr", "zh")
          .map(lit): _*),
          pmod(h(col("doc_id"), 33), lit(6)).cast("int") + 1).as("lang"),
        concat(lit("src"), pmod(h(col("doc_id"), 34), lit(20)))
          .as("source"),
        length(col("text")).cast("long").as("n_chars"))
    write(docs, "documents", 2 * mult)

    // embeddings: iid uniform ±0.5 per dim (labels uncorrelated, like
    // the driver data), with ~2% planted near-dups: vec_id%50==37
    // copies vec_id-17 plus 2% noise
    val dims = sequence(lit(0), lit(63))
    val vecSrc = when(col("id") % 50 === 37 && col("id") >= 17,
      col("id") - 17).otherwise(col("id"))
    def comp(src: Column, j: Column): Column = uniformComp(src, j, 35)
    val emb = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(dims, j =>
        (comp(vecSrc, j)
          + (pmod(hash(col("id") * 64 + j, lit(36)), lit(201)) - 100)
            / 10000.0 * when(col("id") % 50 === 37, 1.0).otherwise(0.0))
          .cast("float")).as("embedding"),
      pmod(h(col("id"), 37), lit(10)).cast("int").as("label"))
    write(emb, "embeddings", 1 * mult)

    println(s"""{"gen":"$outDir","mult":$mult,"lineitem":$nLines,"events":$nEvents,"documents":$nDocs,"embeddings":$nVecs,"vocab":"${if (zipfVocab) "zipf" else "tight"}"}""")
  }
}
