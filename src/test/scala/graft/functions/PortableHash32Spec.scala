package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ext.MinHashLsh

/** PortableHash32 (one-digest codegen expression, r18) must be
  * bit-identical to the builtin md5-hex Horner fold it replaced — the
  * form the DuckDB oracle mirrors. Any divergence would silently move
  * every minhash signature, Count-Min index, shard assignment and
  * sample draw in the engine.
  */
class PortableHash32Spec extends SparkTestBase {

  import spark.implicits._

  /** 0-15 value of one lowercase-hex char (portable: CASE + ascii). */
  private def nib(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  /** The pre-r18 builtin-only form of MinHashLsh.portableHash32: the
    * first 8 hex chars of md5, Horner-folded, as the oracle SQL writes
    * it (ExtQueries.hornerSql).
    */
  private def portableHash32Reference(s: Column): Column = {
    val h = md5(s.cast("binary"))
    // long accumulator from the start — an int Horner chain overflows
    // 32-bit arithmetic (ANSI error) before any widening cast
    (1 to 8).map(j => nib(substring(h, j, 1)))
      .foldLeft(lit(0L))((acc, d) => acc * 16 + d)
  }

  test("equals the md5-hex Horner reference on tricky strings") {
    val rows = Seq(
      "", "a", "hello world", "ffffffff", "\u0000", "café",
      "日本語", "😀 emoji", " leading space",
      "trailing space ", "line\nbreak", "tab\there",
      "a" * 1000, (0 until 256).map(_.toChar).mkString
    ) ++ (0 until 500).map(i => s"doc_$i")
    val df = rows.toDF("s").repartition(4)
    val bad = df.select(
        MinHashLsh.portableHash32($"s").as("fast"),
        portableHash32Reference($"s").as("ref"))
      .filter($"fast" =!= $"ref" || $"fast".isNull =!= $"ref".isNull)
      .count()
    assert(bad == 0L)
  }

  test("null in, null out; range is [0, 2^32)") {
    val df = Seq(Some("x"), None).toDF("s")
    val got = df.select(MinHashLsh.portableHash32($"s")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.count(_.isEmpty) == 1)
    got.flatten.foreach(v => assert(v >= 0L && v < (1L << 32)))
  }

  test("participates in whole-stage codegen (no interpreted fallback)") {
    val df = spark.range(0, 100, 1, 2)
      .select(MinHashLsh.portableHash32($"id".cast("string")).as("h"))
    df.collect()
    val code = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(code.contains("PortableHashUtil.hash32"), code.take(2000))
  }
}
