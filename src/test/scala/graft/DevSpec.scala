package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.types.{LongType, StringType}

import graft.tools.Dev

/** The `Dev` main's three modes, driven through `Dev.run` on the shared
  * session (which `run` must leave open, also when it rejects its
  * arguments). */
class DevSpec extends SparkSpec {

  private val q = "a1_category_kpi"

  private def dev(args: String*): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Dev.run(spark, args.toArray))
    buf.toString(UTF_8)
  }

  test("run shows the query's rows") {
    val df = SparkEntry.queries(q)(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20, "a1 at sf0.001 fits one show page")
    val out = dev("run", sf0001, q)
    assert(out.contains(s"===== $q"))
    // header + one table line per row, between the three +---+ rules
    val tableLines = out.linesIterator.filter(_.startsWith("|")).toSeq
    assert(tableLines.size === rows.length + 1)
    assert(tableLines.head.split('|').map(_.trim).filter(_.nonEmpty).toSeq ===
      df.columns.toSeq)
    // every string and bigint cell is shown as the query returns it
    val exact = df.schema.fields.zipWithIndex
      .filter { case (f, _) => f.dataType == StringType || f.dataType == LongType }
      .map(_._2)
    assert(exact.nonEmpty)
    val shown = tableLines.tail.map(_.split('|').map(_.trim).drop(1).toSeq).toSet
    rows.foreach { r =>
      assert(shown.exists(cells => exact.forall(i =>
        cells(i) == (if (r.isNullAt(i)) "NULL" else r.get(i).toString))),
        s"row $r not shown")
    }
  }

  test("explain prints each query's physical plan") {
    val out = dev("explain", sf0001, s"$q,p1_filter_project")
    assert(out.contains(s"===== $q") && out.contains("===== p1_filter_project"))
    assert("== Physical Plan ==".r.findAllIn(out).size === 2)
  }

  test("stages reports the stages of both passes, with their tasks") {
    val out = dev("stages", sf0001, q)
    assert(out.contains(s"===== $q pass 1:") && out.contains(s"===== $q pass 2:"))
    // each pass line carries its Janino compile count and compile ms
    val codegen = s"""===== $q pass [12]: .*, (\\d+) compiles, (\\d+\\.\\d) compile ms""".r
      .findAllMatchIn(out).toSeq
    assert(codegen.size === 2, out)
    val tasks = """\]\s+-?\d+ ms\s+(\d+) tasks""".r
      .findAllMatchIn(out).map(_.group(1).toInt).toSeq
    assert(tasks.nonEmpty && tasks.exists(_ > 0), out)
  }

  test("bad arguments fail with the usage message and leave the session open") {
    Seq(
      Seq("profile", sf0001, q) -> "unknown mode: profile",
      Seq("run", sf0001, s"$q,no_such_query") -> "unknown query: no_such_query",
      Seq("run", sf0001) -> "expected 3 arguments, got 2"
    ).foreach { case (args, why) =>
      val e = intercept[IllegalArgumentException](dev(args: _*))
      assert(e.getMessage.contains(why) && e.getMessage.contains(Dev.Usage))
      assert(!spark.sparkContext.isStopped)
    }
    assert(spark.range(3).count() === 3L)
  }
}
