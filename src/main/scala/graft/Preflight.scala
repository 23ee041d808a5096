package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Testdata-drift canary. The test corpus can be
  * regenerated between runs and has already changed
  * a physical type once (events.ts: TIMESTAMP(NANOS) → MICROS between
  * r7 and r8 — 91 cascading failures); a row-count or value-domain
  * drift would be subtler and worse. One call checks, per FIXTURES.md:
  * dtypes the engine depends on, exact row counts per SF, and the
  * value domains the operators hard-code (language/event-type enums,
  * embedding dim + L2 normalization, n_chars == length(text), epoch-µs
  * range). Returns problem strings — EMPTY means the corpus is the one
  * the engine was built against. `Verify.main` prints each problem as
  * one actionable line BEFORE any key runs; SchemaPreflightSpec
  * asserts emptiness at every on-disk SF. */
object Preflight {
  /** FIXTURES.md §"Row counts" (verified with pyarrow, 2026-08-12),
    * keyed by the sf directory's basename. */
  val ExpectedRows: Map[String, Map[String, Long]] = Map(
    "sf0.001" -> Map("region" -> 5L, "nation" -> 25L, "customer" -> 150L,
      "supplier" -> 10L, "part" -> 200L, "orders" -> 1500L,
      "lineitem" -> 6000L, "events" -> 1000L, "documents" -> 500L,
      "embeddings" -> 500L),
    "sf0.01" -> Map("region" -> 5L, "nation" -> 25L, "customer" -> 1500L,
      "supplier" -> 100L, "part" -> 2000L, "orders" -> 15000L,
      "lineitem" -> 60000L, "events" -> 10000L, "documents" -> 500L,
      "embeddings" -> 500L),
    "sf0.1" -> Map("region" -> 5L, "nation" -> 25L, "customer" -> 15000L,
      "supplier" -> 1000L, "part" -> 20000L, "orders" -> 150000L,
      "lineitem" -> 600000L, "events" -> 100000L, "documents" -> 5000L,
      "embeddings" -> 2000L))

  private val dec152 = DecimalType(15, 2)
  private val intish = Set[DataType](LongType, IntegerType)
  private val moneyish = Set[DataType](DoubleType, dec152)

  /** dtypes the engine depends on — sets admit every physical form a
    * driver generation has legitimately shipped. */
  val ExpectedTypes: Map[String, Map[String, Set[DataType]]] = Map(
    "region" -> Map("r_regionkey" -> intish,
      "r_name" -> Set[DataType](StringType)),
    "nation" -> Map("n_nationkey" -> intish, "n_regionkey" -> intish,
      "n_name" -> Set[DataType](StringType)),
    "customer" -> Map("c_custkey" -> intish, "c_nationkey" -> intish,
      "c_acctbal" -> moneyish, "c_mktsegment" -> Set[DataType](StringType)),
    "supplier" -> Map("s_suppkey" -> intish, "s_nationkey" -> intish),
    "part" -> Map("p_partkey" -> intish, "p_retailprice" -> moneyish),
    "orders" -> Map("o_orderkey" -> intish, "o_custkey" -> intish,
      "o_totalprice" -> moneyish,
      "o_orderdate" -> Set[DataType](DateType, TimestampNTZType)),
    "lineitem" -> Map("l_orderkey" -> intish, "l_partkey" -> intish,
      "l_suppkey" -> intish,
      "l_quantity" -> (moneyish ++ intish),
      "l_extendedprice" -> moneyish, "l_discount" -> moneyish,
      "l_shipdate" -> Set[DataType](DateType, TimestampNTZType),
      "l_returnflag" -> Set[DataType](StringType)),
    // events.ts has shipped as both ns-as-long and µs TIMESTAMP_NTZ;
    // Tables.events dispatches on it — both are legal here.
    "events" -> Map("event_id" -> intish, "user_id" -> intish,
      "event_type" -> Set[DataType](StringType),
      "value" -> Set[DataType](DoubleType),
      "ts" -> Set[DataType](LongType, TimestampNTZType, TimestampType)),
    "documents" -> Map("doc_id" -> intish,
      "text" -> Set[DataType](StringType),
      "lang" -> Set[DataType](StringType),
      "source" -> Set[DataType](StringType),
      "n_chars" -> intish),
    "embeddings" -> Map("vec_id" -> intish, "label" -> intish,
      "embedding" -> Set[DataType](
        ArrayType(FloatType, containsNull = true),
        ArrayType(FloatType, containsNull = false),
        ArrayType(DoubleType, containsNull = true),
        ArrayType(DoubleType, containsNull = false))))

  def schemaProblems(spark: SparkSession, sfDir: String): Seq[String] =
    ExpectedTypes.toSeq.sortBy(_._1).flatMap { case (table, expected) =>
      val actual = Tables.t(spark, sfDir, table).schema
        .map(f => f.name -> f.dataType).toMap
      expected.toSeq.sortBy(_._1).flatMap { case (name, ok) =>
        actual.get(name) match {
          case None => Some(s"$table.$name: MISSING (expected one of $ok)")
          case Some(dt) if !ok.contains(dt) =>
            Some(s"$table.$name: got $dt, expected one of $ok")
          case _ => None
        }
      }
    }

  def rowCountProblems(spark: SparkSession, sfDir: String): Seq[String] = {
    val sfName = new java.io.File(sfDir).getName
    ExpectedRows.get(sfName).toSeq.flatMap(_.toSeq.sortBy(_._1).flatMap {
      case (table, want) =>
        val got = Tables.t(spark, sfDir, table).count()
        if (got != want)
          Some(s"$table: $got rows, FIXTURES.md says $want at $sfName")
        else None
    })
  }

  /** Value domains the operators hard-code (FIXTURES.md): enum columns,
    * n_chars == length(text), epoch-µs range, embedding geometry.
    * Predicates are NULL-SAFE — a drift that introduces NULLs must
    * count as drift, and a negated isin/rlike evaluates to NULL on
    * NULL input, which a bare where() would silently drop. Each check
    * is individually guarded: one check that cannot even run (its
    * column is gone) reports itself and never suppresses the others. */
  def domainProblems(spark: SparkSession, sfDir: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def bad(c: Column): Column = coalesce(c, lit(true)) // NULL = drift
    def check(label: String)(f: => Unit): Unit =
      try f catch { case scala.util.control.NonFatal(e) =>
        out += s"$label: check could not run (${e.getClass.getSimpleName}" +
          s": ${Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString})"
      }
    check("documents") {
      val docs = Tables.t(spark, sfDir, "documents")
      val badLang = docs
        .where(bad(!col("lang").isin("en", "de", "es", "fr", "zh"))).count()
      if (badLang > 0)
        out += s"documents.lang: $badLang rows outside {en,de,es,fr,zh}"
      val badSrc = docs.where(bad(!col("source").rlike("^src[0-9]+$")))
        .count()
      if (badSrc > 0) out += s"documents.source: $badSrc rows not srcN"
      // =!= is NULL on a NULL side, so bad() counts it as drift —
      // including the both-NULL row a null-safe <=> would call equal
      val badLen = docs.where(bad(col("n_chars") =!= length(col("text"))))
        .count()
      if (badLen > 0)
        out += s"documents.n_chars: $badLen rows where n_chars != length(text)"
      // scan_text_lines' tab-delimited fixture and every split(" ")
      // tokenizer assume single-line, tab-free text; a regeneration
      // that violates this must fail HERE by name, not as a hash
      // mystery downstream (r11 review item)
      val badCtl = docs.where(bad(col("text").rlike("[\\t\\n\\r]"))).count()
      if (badCtl > 0)
        out += s"documents.text: $badCtl rows contain tab/newline chars"
    }
    check("events") {
      val ev = Tables.events(spark, sfDir)
      val badType = ev.where(bad(!col("event_type")
        .isin("click", "view", "purchase", "signup", "error"))).count()
      if (badType > 0)
        out += s"events.event_type: $badType rows outside the 5-value enum"
      val tsRange = ev.agg(min("ts_us"), max("ts_us")).head()
      if (tsRange.isNullAt(0)) out += "events: table is empty"
      else {
        val (mn, mx) = (tsRange.getLong(0), tsRange.getLong(1))
        if (mn < 1500000000000000L || mx > 2500000000000000L)
          out += s"events.ts_us: range [$mn, $mx] outside epoch-µs sanity band"
      }
    }
    check("embeddings") {
      val emb = Tables.t(spark, sfDir, "embeddings")
      val badDim = emb.where(bad(size(col("embedding")) =!= 64)).count()
      if (badDim > 0)
        out += s"embeddings.embedding: $badDim rows with dim != 64 " +
          "(seeded SRP/IVF geometry is 64-dim)"
      val badNorm = emb.where(bad(abs(sqrt(aggregate(col("embedding"),
        lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))
        - 1.0d) > lit(1e-3))).count()
      if (badNorm > 0)
        out += s"embeddings.embedding: $badNorm rows not L2-normalized " +
          "(dot != cosine)"
      val badLabel = emb
        .where(bad(col("label") < 0 || col("label") > 9)).count()
      if (badLabel > 0)
        out += s"embeddings.label: $badLabel rows outside 0..9"
    }
    out.toSeq
  }

  /** Every named drift the three sections can produce, each section
    * independently guarded — a section that throws (e.g. a table whose
    * read itself fails) contributes one problem line instead of
    * discarding the named lines the other sections already computed. */
  def problems(spark: SparkSession, sfDir: String): Seq[String] = {
    def section(label: String)(f: => Seq[String]): Seq[String] =
      try f catch { case scala.util.control.NonFatal(e) =>
        Seq(s"$label checks could not run (${e.getClass.getSimpleName}" +
          s": ${Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString})")
      }
    section("schema")(schemaProblems(spark, sfDir)) ++
      section("row-count")(rowCountProblems(spark, sfDir)) ++
      section("domain")(domainProblems(spark, sfDir))
  }
}
