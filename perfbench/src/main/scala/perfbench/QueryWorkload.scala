package perfbench

import graft.queries._
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** A registry-query workload: each op is one query `fn(spark, dir)`
  * over the generated corpus, split into frame construction
  * (`queries`), physical planning (`queryExecution.executedPlan`,
  * `plans`) and execution, which collects the result so the output
  * check reads the very rows that were timed. The seed sets the op
  * order. The set is a fixed systematic sample of the workload's query
  * families; `--seconds` sets the number of timed passes. */
final class QueryWorkload(
    name: String, seed: Long, seconds: Double, work: String,
    benchDir: String, record: Boolean) extends Workload {
  import QueryWorkload._
  private val set = if (record) Families(name) else Sets(name)
  private var corpusDir: String = _
  def inputDir: String = corpusDir

  def setup(spark: SparkSession, k: Int): Unit =
    steps(
      // one corpus per checkout, shared by the query workloads
      "corpus" -> (() => corpusDir =
        QueryCorpus.ensure(spark, new java.io.File(work).getAbsoluteFile.getParent)),
      "first_query" -> (() => registry(FirstQuery(name)).fn(spark, corpusDir).collect()))

  /** One untimed pass over the set: the timed pass then measures each
    * query's steady state, not its first codegen and JIT. */
  def warmUp(spark: SparkSession): Unit =
    if (!record) set.foreach { q =>
      graft.ops.PlanCache.clear()
      registry(q).fn(spark, corpusDir).collect()
    }

  def run(spark: SparkSession, spans: Spans, tracer: Option[Tracer], out: Outcome): Unit = {
    val r = new scala.util.Random(seed)
    val passes = if (record) 1 else math.max(1, math.round(seconds / NominalPassS(name)).toInt)
    val ops = r.shuffle(Seq.fill(passes)(set).flatten)
    out.planned = ops.size
    val expectedFile = s"$benchDir/expected/$name.json"
    val expected = if (record) Map.empty[String, Expected] else Expected.load(expectedFile)
    val recorded = mutable.LinkedHashMap[String, Expected]()
    ops.zipWithIndex.foreach { case (q, i) =>
      graft.ops.PlanCache.clear()
      out.opNames(i) = q
      val res = scala.util.Try {
        val (df, sb) = spans.time(i, "build", "queries")(registry(q).fn(spark, corpusDir))
        val (_, sp) = spans.time(i, "plan", "plans")(df.queryExecution.executedPlan)
        val (rows, se) = spans.time(i, "exec", "queries")(df.collect())
        out.ops += OpRec(i, q, sb.seconds + sp.seconds + se.seconds)
        out.wallS += (se.endMs - sb.startMs) / 1e3
        rows
      }
      res match {
        case scala.util.Failure(e) => out.check(i, ok = false, s"$q failed: $e")
        case scala.util.Success(rows) =>
          val got = Expected(rows.length.toLong, contentHash(rows))
          if (!recorded.contains(q)) recorded(q) = got
          if (!record) expected.get(q) match {
            case None => out.check(i, ok = false, s"$q has no expected values in $expectedFile")
            case Some(e) => out.check(i, got == e, s"$q returned $got, expected $e")
          }
      }
    }
    if (record) Expected.save(expectedFile, recorded.toSeq.sortBy(_._1))
    out.diag("queries") = set
  }
}

final case class Expected(rows: Long, hash: String)

object Expected {
  private val Line = """\s*"([^"]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([^"]+)"\s*\}\s*,?\s*""".r
  def load(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().collect { case Line(q, n, h) => q -> Expected(n.toLong, h) }.toMap
    finally src.close()
  }
  def save(path: String, xs: Seq[(String, Expected)]): Unit = {
    val body = xs.map { case (q, e) =>
      s"""  ${Json.str(q)}: {"rows": ${e.rows}, "hash": ${Json.str(e.hash)}}"""
    }.mkString("{\n", ",\n", "\n}\n")
    new java.io.File(path).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}

object QueryWorkload {
  /** `--seconds` per timed pass, by workload. `olap_queries` runs two
    * passes at 15 s (7–10 s each on a 4-core host), so its median op is
    * the median of 14 executions, not the one execution of whichever
    * query ranks in the middle. A pass of the other two sets takes
    * 18–24 s, so they run one and a run stays within 180 s. */
  val NominalPassS: Map[String, Double] =
    Map("olap_queries" -> 7.5, "lake_ops" -> 15.0, "corpus_kernels" -> 15.0)

  /** Each workload's set-up query: a light query of its families that
    * is not in its set. */
  val FirstQuery: Map[String, String] = Map(
    "olap_queries" -> "o4_top1", "lake_ops" -> "x_incr_agg", "corpus_kernels" -> "x_fingerprint")

  lazy val registry: Map[String, Q] =
    Relational.all ++ Gold.all ++ Text.all ++ Vector.all ++ Multimodal.all ++
      Analytics.all ++ Corpus.all ++ Maintenance.all ++ Streams.all ++ Mining.all

  /** Every query of each workload's families, in name order. */
  val Families: Map[String, Seq[String]] = Map(
    "olap_queries" -> (Relational.all.keys ++ Gold.all.keys ++ Analytics.all.keys).toSeq.sorted,
    "lake_ops" -> (Maintenance.all.keys ++ Streams.all.keys).toSeq.sorted,
    "corpus_kernels" -> (Text.all.keys ++ Vector.all.keys ++ Corpus.all.keys ++
      Mining.all.keys ++ Multimodal.all.keys).toSeq.sorted)

  /** Each workload's fixed set: every `k`-th query of its families in
    * name order, from `offset`. */
  private val Samples: Map[String, (Int, Int)] = Map(
    "olap_queries" -> (10, 2), "lake_ops" -> (6, 0), "corpus_kernels" -> (8, 0))
  val Sets: Map[String, Seq[String]] = Families.map { case (w, qs) =>
    val (k, offset) = Samples(w)
    w -> qs.drop(offset).grouped(k).map(_.head).toSeq
  }

  /** Order-insensitive content hash of a query's output: the sum and the
    * xor of a 64-bit hash per row, over a canonical rendering in which
    * doubles keep ten significant digits and map entries are sorted, so
    * the last-ulp drift of a floating-point aggregate does not read as a
    * wrong answer. */
  def contentHash(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => tenDigits(d)
      case f: Float => tenDigits(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val c = canon(r)
      val h = (MurmurHash3.stringHash(c, 0x3c6ef372).toLong << 32) ^
        (MurmurHash3.stringHash(c, 0x1b873593).toLong & 0xffffffffL)
      sum += h & 0x7fffffffffffL
      xor ^= h
    }
    f"${rows.length}%d-$sum%d-$xor%016x"
  }

  /** `d` rounded to ten significant digits, as mantissa and exponent. */
  private def tenDigits(d: Double): String = {
    val exp = if (d == 0.0 || d.isNaN || d.isInfinite) 0 else math.floor(math.log10(math.abs(d))).toInt
    if (d == 0.0 || d.isNaN || d.isInfinite || math.abs(exp) > 290) java.lang.Double.toString(d)
    else s"${math.rint(d * math.pow(10, 9 - exp)).toLong}e${exp - 9}"
  }
}
