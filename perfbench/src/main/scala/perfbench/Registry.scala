package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.codec.Hex

/** One pass per iteration over the generated tables through the noop
  * sink, entries in an order drawn from the seed. Set-up runs a check
  * pass, which compares every entry's row count and order-insensitive
  * hash with the pinned values, and one untimed warm pass.
  */
final class RegistryWorkload(r: Run) extends Workload {
  import RegistryWorkload._
  def scratchBytes: Long = 2L << 30
  def layers: Seq[String] = Layers.registry

  def run(): Unit = {
    val o = r.o
    val dir = o.tables.getOrElse(throw new IllegalArgumentException("registry needs --tables"))
    val spark = r.session(extensions = false)
    val queries = graft.SparkEntry.queries
    val unknown = Entries.filterNot(queries.contains)
    require(unknown.isEmpty, s"registry entries missing from the program: $unknown")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // set-up: a check pass, then an untimed noop pass; both warm the JVM,
    // and setup_s counts one pass, at their median
    val expectedFile = new File(o.expected)
    val pinned = Pinned.read(expectedFile)
    r.prep(Entries.foreach { e =>
      r.attempt(s"check $e") {
        val (rows, w) = r.time(queries(e)(spark, dir).collect().toSeq)
        System.err.println(f"[perfbench] check pass: $e%-34s $w%7.2f s ${rows.size}%8d rows")
        val res = Pinned.digest(rows)
        pinned.get(e) match {
          case Some(want) if want == res => Nil
          case Some(want) => Seq(s"rows/hash $res != pinned $want")
          case None => Seq("no pinned value")
        }
      }
    })
    r.prep(Entries.foreach(e => r.attempt(s"warm $e") { noop(queries(e)(spark, dir)); Nil }))

    val order = new scala.util.Random(o.seed).shuffle(Entries)
    val perEntry = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val passSpans = mutable.ArrayBuffer.empty[Long]
    r.loop(o.seconds, minOps = if (o.trace) 2 else 1) { i =>
      val traceThis = o.trace && i % 2 == 1
      def pass(): Double = order.map { e =>
        val (_, w) = r.time(r.trace.span(e, family(e), Some(spark.sparkContext)) {
          r.attempt(s"entry $e") { noop(queries(e)(spark, dir)); Nil }
        })
        perEntry.getOrElseUpdate(e, mutable.ArrayBuffer.empty) += w
        w
      }.sum
      if (traceThis) {
        val (w, id) = r.traced("registry pass", "registry")(pass())
        tracedPasses += w; passSpans += id
        w
      } else { val w = pass(); passes += w; w }
    }
    val entryMed = Entries.map(e => e -> Stats.median(perEntry(e).toSeq))
    r.e2e("op_p50_s") = Stats.median(passes.toSeq)
    r.detail("pass_walls_s") = Json.arr(passes.toSeq)
    val geomean = Stats.geomean(entryMed.map(_._2))
    r.detail("registry_geomean_s") = Json.num(geomean)
    r.detail("entry_p50_s") = Json.obj(entryMed.map { case (e, w) => e -> Json.num(w) })

    if (o.trace) {
      Spans.overhead(r, passes.toSeq, tracedPasses.toSeq)
      r.layers("registry.geomean_s") = geomean
      val traced = passSpans.flatMap(id => r.trace.spans.filter(_.parent == id)).toSeq
      Entries.foreach { e =>
        r.layers(s"registry.${e}_s") = Stats.median(traced.filter(_.name == e).map(_.seconds))
      }
      def famSum(f: String): Double =
        Stats.median(passSpans.toSeq.map(id => r.trace.spans.filter(s => s.parent == id && s.layer == f).map(_.seconds).sum))
      Seq("rel", "llm", "stream").foreach(f => r.layers(s"registry.${f}_s") = famSum(s"registry.$f"))
      val passStages = passSpans.toSeq.map { id =>
        val st = Spans.stages(r, id)
        require(st.nonEmpty, s"registry pass span $id has no stage spans")
        st
      }
      def stageMed(k: String): Double = Stats.median(passStages.map(Spans.sum(_, k)))
      r.layers("registry.task_cpu_s") = stageMed("cpu_s")
      r.layers("registry.gc_s") = stageMed("gc_s")
      r.layers("registry.shuffle_bytes") = stageMed("shuffle_write_bytes")
      r.layers("registry.spill_bytes") = stageMed("spill_bytes")
    }
  }
}

object RegistryWorkload {
  /** A subset of graft.Bench's headline list (join + aggregate flagship,
    * window, the cosine top-k kernel, two file streams) plus the
    * open-item entry x_jaccard_pairs_prefix, chosen so that a cold check
    * pass and one warm pass fit a run. None of them reads Bench's
    * pay-once staged layouts.
    */
  val Entries: Seq[String] = Seq(
    "q0_flagship", "q_window_rank", "x_cosine_topk", "x_jaccard_pairs_prefix",
    "s_tumbling", "s_session")

  /** Span layer of an entry: q_* relational, x_* curation/similarity
    * kernels (QueriesLLM over graft.functions), s_* streams.
    */
  def family(e: String): String =
    if (e.startsWith("s_")) "registry.stream" else if (e.startsWith("x_")) "registry.llm" else "registry.rel"
}

/** Pinned per-entry (row count, order-insensitive hash) values. Doubles
  * are rounded to 2 decimals before hashing, as the DuckDB oracle
  * comparison does.
  */
object Pinned {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else f"${math.round(d * 100) / 100.0 + 0.0}%.2f"
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => Hex.encode(b)
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case bd: scala.math.BigDecimal => canon(bd.bigDecimal)
    case t: java.sql.Timestamp => t.getTime.toString
    case t: java.time.Instant => t.toEpochMilli.toString
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def digest(rows: Seq[org.apache.spark.sql.Row]): (Long, String) = {
    var h = 0L
    rows.foreach { row =>
      val c = canon(row)
      h += (scala.util.hashing.MurmurHash3.stringHash(c).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(c, 0x2545f491).toLong & 0xffffffffL)
    }
    (rows.size.toLong, f"$h%016x")
  }

  def read(f: File): Map[String, (Long, String)] =
    scala.io.Source.fromFile(f, "UTF-8").getLines().filterNot(_.startsWith("#")).map { l =>
      val Array(e, n, h) = l.split("\t")
      e -> (n.toLong, h)
    }.toMap
}
