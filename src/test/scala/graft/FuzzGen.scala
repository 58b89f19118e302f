package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Adversarial-corpus generator for differential fuzzing (VERDICT r11
  * #1): writes a full hostile table set — same schemas and single-file
  * layout as `/root/testdata/sf*` — deterministically from a seed, so
  * EVERY gated query+oracle pair can be replayed over data the
  * well-behaved driver distribution never exercises:
  *
  *   - duplicate floods and near-dup prefix families (dedup stress)
  *   - empty / whitespace-only / newline docs + the reference's
  *     INVALID_VALS set verbatim (constants.py:9-20)
  *   - multi-byte, RTL, CJK, emoji, combining-accent text
  *   - one mega-doc (30k words)
  *   - hot keys: one source with ~50% of docs, one customer with ~50%
  *     of orders, one part in ~50% of lineitems, one user with ~50%
  *     of events, one embedding label at ~50%
  *   - a 300-line fat order (co-purchase pair fan-out)
  *   - exact duplicate lineitem rows, orphan foreign keys
  *   - timestamp TIES (sessionize tie-breaks), out-of-range dates
  *   - zero/negative quantities, prices, balances, event values
  *   - malformed / empty / null-literal JSON in events.props
  *   - duplicate, zero-norm, one-hot, constant and tiny embeddings
  *
  * Usage: `Test/runMain graft.FuzzGen <seed> <outDir>` then
  * `runMain graft.Verify <outDir> <verifyOut>` and
  * `python3 tools/check.py <outDir> <verifyOut>` — the standard gate
  * machinery, pointed at hostile data. FUZZ.md records seeds run and
  * the triage ledger. Sizes match sf0.001 (~6k lineitem) so a full
  * replay costs minutes.
  */
object FuzzGen {

  private val AsciiVocab: Vector[String] = Vector(
    "the", "a", "of", "and", "to", "in", "is", "it", "fast", "slow",
    "key", "order", "sort", "table", "scan", "merge", "part", "window",
    "small", "large", "hash", "join", "stream", "customer", "line",
    "batch", "value", "group", "query", "row", "data", "filter",
    "spark", "shuffle", "el", "la", "de", "y", "en", "que", "los",
    "es", "der", "die", "das", "und", "ist", "von", "zu", "ein")

  private val UniVocab: Vector[String] = Vector(
    "naïve", "café", "café", "straße", "größe", "übung",
    "ελλάς", "αθήνα", "журнал", "москва", "中文分词", "東京都",
    "مرحبا", "سلام", "שלום", "עולם", "😀😀", "🚀", "👍🏽",
    "𝕠𝕡𝕖𝕟", "ёлка", "ñandú")

  /** The reference's INVALID_VALS (constants.py:9-20), minus None —
    * SQL NULL text is generated only under FUZZ_NULLS=1 (triage tier).
    */
  private val InvalidVals: Vector[String] =
    Vector("   ", "", " ", "NA", "N/A", "\n")

  private def salad(rnd: scala.util.Random, vocab: Vector[String],
                    n: Int): String =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  private def ts(epochSec: Long): Timestamp = new Timestamp(epochSec * 1000L)

  def main(args: Array[String]): Unit = {
    val Array(seedStr, outDir) = args
    val spark = LocalSession.build("32")
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, seedStr.toLong, outDir,
      withNulls = sys.env.get("FUZZ_NULLS").contains("1"))
    spark.stop()
  }

  /** Generate the hostile table set (callable from specs — does not
    * own the session).
    */
  def generate(spark: SparkSession, seed: Long, outDir: String,
               withNulls: Boolean = false): Unit = {
    import spark.implicits._
    new java.io.File(outDir).mkdirs()

    // write as a SINGLE file <outDir>/<name>.parquet (check.py views
    // one file per table, like the driver's testdata layout)
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      val dst = java.nio.file.Paths.get(s"$outDir/$name.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }

    val rnd = new scala.util.Random(seed)

    // ---- region / nation (shapes fixed, names hostile-ish) ----
    write(Seq.tabulate(5)(i => (i, Seq("AFRICA", "AMERICA", "ASIA",
        "EUROPE", "MIDDLE EAST")(i)))
      .toDF("r_regionkey", "r_name"), "region")
    write(Seq.tabulate(25)(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    // ---- customer: negative/zero balances, duplicate names ----
    val customers = Seq.tabulate(150) { i =>
      val bal = i match {
        case x if x % 17 == 0 => 0.0
        case x if x % 13 == 0 => -rnd.nextInt(5000).toDouble / 100.0
        case _ => rnd.nextInt(1000000).toDouble / 100.0
      }
      (i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        bal, Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD")(rnd.nextInt(5)))
    }
    write(customers.toDF("c_custkey", "c_name", "c_nationkey",
      "c_acctbal", "c_mktsegment"), "customer")

    // ---- supplier ----
    write(Seq.tabulate(10)(i => (i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), rnd.nextInt(100000).toDouble / 100.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")

    // ---- part: duplicate names, zero price ----
    val partNames = Vector("cold widget", "small widget", "large bolt",
      "hot gear", "tiny gear", "cold bolt")
    val parts = Seq.tabulate(200) { i =>
      (i.toLong, partNames(rnd.nextInt(partNames.size)),
        s"Brand#${rnd.nextInt(25)}",
        Seq("ECONOMY", "PROMO", "STANDARD")(rnd.nextInt(3)),
        if (i % 31 == 0) 0 else rnd.nextInt(50) + 1,
        if (i % 29 == 0) 0.0 else rnd.nextInt(200000).toDouble / 100.0)
    }
    write(parts.toDF("p_partkey", "p_name", "p_brand", "p_type",
      "p_size", "p_retailprice"), "part")

    // ---- orders: hot customer (~50%), orphans, boundary dates ----
    val day = 86400L
    val base1995 = 788918400L // 1995-01-01 UTC
    val orders = Seq.tabulate(1500) { i =>
      val cust =
        if (i % 2 == 0) 7L                       // hot customer
        else if (i % 97 == 0) 100000L + i        // orphan custkey
        else rnd.nextInt(150).toLong
      val date =
        if (i % 211 == 0) ts(base1995 - 1800L * day)       // ~1990
        else if (i % 223 == 0) ts(base1995 + 14700L * day) // ~2035
        else ts(base1995 + rnd.nextInt(2400).toLong * day)
      val price =
        if (i % 37 == 0) 0.0
        else if (i % 41 == 0) -rnd.nextInt(10000).toDouble / 100.0
        else rnd.nextInt(30000000).toDouble / 100.0
      (i.toLong, cust, Seq("O", "F", "P")(rnd.nextInt(3)), price, date,
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")(rnd.nextInt(5)))
    }
    write(orders.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"), "orders")

    // ---- lineitem: fat order 0 (300 lines), hot part (~50%),
    //      exact duplicate rows, zero/negative qty, orphan orders ----
    val liBase = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Int, Double, Double, Double, Double,
        String, String, Timestamp)]
    def oneLine(ok: Long, ln: Int): Unit = {
      val pk = if (rnd.nextBoolean()) 13L else rnd.nextInt(200).toLong
      val qty =
        if (liBase.size % 53 == 0) 0.0
        else if (liBase.size % 59 == 0) -5.0
        else (rnd.nextInt(50) + 1).toDouble
      liBase += ((ok, pk, rnd.nextInt(10).toLong, ln, qty,
        rnd.nextInt(1000000).toDouble / 100.0,
        Seq(0.0, 0.0, 0.01, 0.05, 0.1)(rnd.nextInt(5)),
        Seq(0.0, 0.02, 0.08)(rnd.nextInt(3)),
        Seq("R", "N", "A")(rnd.nextInt(3)),
        Seq("O", "F")(rnd.nextInt(2)),
        ts(base1995 + rnd.nextInt(2500).toLong * day)))
    }
    (1 to 300).foreach(ln => oneLine(0L, ln)) // fat order
    var li = 300
    var okCursor = 1L
    while (li < 5900) {
      val lines = 1 + rnd.nextInt(6)
      val ok = if (okCursor % 101 == 0) 50000L + okCursor else okCursor % 1500L
      (1 to lines).foreach(ln => oneLine(ok, ln))
      okCursor += 1
      li += lines
    }
    // exact duplicate rows: re-append 50 existing rows verbatim
    val dups = (0 until 50).map(i => liBase(rnd.nextInt(liBase.size)))
    liBase ++= dups
    write(liBase.toSeq.toDF("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"), "lineitem")

    // ---- events: hot user (~50%), timestamp TIES, malformed JSON ----
    val t0 = 1704067200L // 2024-01-01 UTC
    val events = Seq.tabulate(1000) { i =>
      val user = if (i % 2 == 0) 77L else rnd.nextInt(100).toLong
      val t =
        if (i >= 300 && i < 400) ts(t0 + 9999L)  // 100-event tie block
        else ts(t0 + rnd.nextInt(30 * 86400).toLong)
      val v = i % 7 match {
        case 0 => 0.0
        case 1 => -1.5
        case 2 => 42.0 // heavy repeated value
        case _ => rnd.nextInt(10000).toDouble / 100.0
      }
      val props = i % 11 match {
        case 0 => "{"                       // malformed
        case 1 => ""                        // empty
        case 2 => "null"                    // JSON null literal
        case 3 => "not json at all"         // garbage
        case 4 => s"""{"x": ${rnd.nextInt(100)}}""" // missing $.k
        case 5 => s"""{"k": "${rnd.nextInt(100)}"}""" // k as string
        case _ => s"""{"k": ${rnd.nextInt(100)}}"""
      }
      (i.toLong, t, user,
        Seq("view", "click", "purchase", "signup", "error")(rnd.nextInt(5)),
        v, if (withNulls && i % 501 == 500) null else props)
    }
    write(events.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props"), "events")

    // ---- documents: the richest hostile surface ----
    val langs = Vector("en", "es", "de", "zh", "fr", "und", "")
    val docs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    def addDoc(id: Long, text: String, lang: String, source: String): Unit = {
      val t = if (text == null) null else text
      val n = if (t == null) 0L else t.codePointCount(0, t.length).toLong
      docs += ((id, t, lang, source, n))
    }
    // 0-199 normal-ish salad (keeps dedup/BPE/bm25 machinery in-regime)
    (0 until 200).foreach { i =>
      val src = if (i % 2 == 0) "src0" else s"src${1 + rnd.nextInt(19)}"
      val lang = if (i % 2 == 0) "en" else langs(rnd.nextInt(langs.size))
      addDoc(i.toLong, salad(rnd, AsciiVocab, 20 + rnd.nextInt(60)),
        lang, src)
    }
    // 200-239 duplicate flood: 40 exact copies of doc 0
    val doc0 = docs(0)._2
    (200 until 240).foreach(i => addDoc(i.toLong, doc0, "en", "src0"))
    // 240-259 near-dups: prefixes of doc 1 at 50-97%
    val doc1Words = docs(1)._2.split(" ")
    (240 until 260).foreach { i =>
      val frac = 50 + (i - 240) * 5 / 2
      val k = math.max(1, doc1Words.length * frac / 100)
      addDoc(i.toLong, doc1Words.take(k).mkString(" "), "en", "src1")
    }
    // 260-279 multi-byte / RTL / emoji / combining-accent salad
    (260 until 280).foreach { i =>
      addDoc(i.toLong, salad(rnd, UniVocab, 15 + rnd.nextInt(30)),
        "und", "src0")
    }
    // 280-289 whitespace & boundary shapes
    val boundary = Vector("", " ", "  ", "a", "word ",
      " leading", "trailing ", "a  b", "x y", "\t")
    (280 until 290).foreach(i => addDoc(i.toLong, boundary(i - 280),
      "", "web"))
    // 290 mega-doc: 30k words
    addDoc(290L, salad(rnd, AsciiVocab, 30000), "en", "src0")
    // 291-296 the reference INVALID_VALS verbatim
    InvalidVals.zipWithIndex.foreach { case (v, j) =>
      addDoc((291 + j).toLong, v, "en", "src0")
    }
    // 297-299 (+ null tier): single-char and digit-only docs
    addDoc(297L, "7", "en", "src3")
    addDoc(298L, "0 0 0 0 0 0 0 0", "en", "src3")
    addDoc(299L, "Z", "en", "src3")
    // 300-399 hot-source block (src0 ends ~50% overall), en-heavy
    (300 until 400).foreach { i =>
      addDoc(i.toLong, salad(rnd, AsciiVocab, 10 + rnd.nextInt(40)),
        if (i % 3 == 0) langs(rnd.nextInt(langs.size)) else "en", "src0")
    }
    if (withNulls) addDoc(400L, null, null, "src0") // triage tier
    write(docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"),
      "documents")

    // ---- embeddings: dups, zero-norm, one-hot, constant, tiny ----
    val dim = 64
    def gauss(): Array[Float] =
      Array.fill(dim)((math.rint(rnd.nextGaussian() * 1000) / 1000.0).toFloat)
    val embs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Float], Int)]
    (0 until 400).foreach { i =>
      embs += ((i.toLong, gauss(), if (i % 2 == 0) 0 else rnd.nextInt(10)))
    }
    val emb0 = embs(0)._2
    (400 until 450).foreach(i => embs += ((i.toLong, emb0.clone(), 0)))
    (450 until 456).foreach(i =>
      embs += ((i.toLong, Array.fill(dim)(0.0f), 0)))        // zero-norm
    (456 until 468).foreach { i =>
      val v = Array.fill(dim)(0.0f); v((i - 456) % dim) = 1.0f
      embs += ((i.toLong, v, 1))                              // one-hot
    }
    (468 until 480).foreach(i =>
      embs += ((i.toLong, Array.fill(dim)(0.5f), 2)))         // constant
    (480 until 500).foreach(i =>
      embs += ((i.toLong, Array.fill(dim)(1e-6f), 3)))        // tiny
    write(embs.toSeq.toDF("vec_id", "embedding", "label"), "embeddings")

    println(s"[fuzzgen] seed=$seed nulls=$withNulls -> $outDir " +
      s"(docs=${docs.size}, lineitem=${liBase.size})")
  }
}
