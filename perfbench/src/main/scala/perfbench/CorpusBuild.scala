package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row
import scala.collection.mutable

/** Workload `corpus_build`: the composed corpus chain q215 (build) →
  * q216 (admit) → q231 (maintain) over a seeded `documents` table of
  * [[Docs]] rows (see [[DocsGen]] for its planted shares).
  *
  * Set-up: one untimed chain, which also builds the lexical index that
  * `LexFixture` keeps for the session; `setup_s` is its wall.
  *
  * Timed operation: one chain (`op_p50_s`); `items_per_s`
  * is input documents per second of chain wall.
  */
object CorpusBuild {
  val Docs = 5000

  val Gates: Seq[(String, String)] = Seq(
    "build" -> "q215_corpus_build",
    "admit" -> "q216_corpus_admit",
    "maintain" -> "q231_corpus_maintain")

  /** Extension modules reported one by one; others fold into `ext.other`,
    * and jobs issued outside any extension module into `ext.none`.
    */
  val ExtFiles: Seq[String] = Seq("Warc", "Curation", "MinHashLsh", "DedupClusters",
    "Sharding", "Budgeting", "Packing", "ExactDedup", "CorpusDiff", "Bm25", "Forget",
    "TextAnalysis")

  def run(c: Ctx): Unit = {
    val o = c.out
    val s = c.spark
    val dataDir = c.dir("data").getPath
    val nDocs = DocsGen.write(s, c.seed, Docs, dataDir)

    /** One chain; returns each gate's columns and rows, and the chain's wall. */
    def chain(): (Seq[(String, Seq[String], Seq[Row])], Double) =
      c.timed(c.tracer.span("corpus.chain") {
        Gates.map { case (gate, q) =>
          c.tracer.span(s"corpus.$gate") {
            val df = SparkEntry.queries(q)(s, dataDir)
            (gate, df.columns.toSeq, df.collect().toSeq)
          }
        }
      })

    val (warm, warmS) = chain()
    o.setupSteps += warmS
    val chainSpans = mutable.ArrayBuffer.empty[Span]
    // one chain per run; a traced run needs a second, untraced one
    c.measure(minOps = if (c.trace) 2 else 1) { _ =>
      val nSpans = c.tracer.spans.length
      val (out, wall) = chain()
      o.attempted += 1
      o.ops += ((wall, c.tracer.enabled))
      o.items += nDocs
      o.itemsWallS += wall
      if (c.tracer.enabled) chainSpans += c.tracer.spans(nSpans)
      val changed = out.zip(warm).collect { case ((g, _, rows), (_, _, w)) if rows != w => g }
      if (changed.nonEmpty) o.fail(s"gates ${changed.mkString(",")} differ from the set-up chain")
    }

    o.checks("documents") = s"$dataDir/documents.parquet"
    o.checks("gates") = warm.map { case (gate, cols, rows) =>
      val q = Gates.toMap.apply(gate)
      Json.obj("gate" -> gate, "query" -> q, "oracle_sql" -> SparkEntry.oracleSql.get(q),
        "columns" -> cols, "rows" -> Json.arr(rows.map(r => Json.arr(r.toSeq: _*)): _*))
    }
    o.named("corpus_docs_per_s") = (o.items / o.itemsWallS, "docs/s")
    o.named("chain_p50_s") = (Stats.median(o.ops.map(_._1).toSeq), "s")

    if (c.trace) {
      val t = c.tracer
      t.listener.drain()
      o.layer ++= Ctx.medians(chainSpans.toSeq.map { ch =>
        val jobs = t.jobsOf(ch)
        val gates = t.children(ch).map(g => s"${g.name}_s" -> g.wallS).toMap
        val byFile = jobs.groupBy(j => j.extFile match {
          case Some(f) if ExtFiles.contains(f) => f
          case Some(_) => "other"
          case None => "none"
        })
        val ext = (ExtFiles :+ "other" :+ "none").flatMap { f =>
          val js = byFile.getOrElse(f, Nil)
          Seq(s"ext.$f.in_job_s" -> js.map(_.wallS).sum, s"ext.$f.jobs" -> js.size.toDouble)
        }
        gates ++ ext ++ Map("corpus.jobs_per_chain" -> jobs.size.toDouble) ++ t.runtime(ch)
      })
    }
  }
}
