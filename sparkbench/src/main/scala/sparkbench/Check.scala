package sparkbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row

/** The output check: every op's collected result must match the row count
  * and digest kept for it in the workload's expected file
  * (`op<TAB>rows<TAB>digest` per line). Expected values do not depend on
  * the seed: every op's result is a function of row content, not row order.
  * With `record`, the first result of each op is written to the file
  * instead, and a later pass that differs from it fails. */
final class Check(file: Path, record: Boolean) {
  private val expected: Map[String, (Int, String)] =
    if (record || !Files.exists(file)) Map.empty
    else Files.readAllLines(file).asScala.filter(_.nonEmpty).map { l =>
      val Array(op, n, d) = l.split("\t")
      op -> (n.toInt, d)
    }.toMap
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Int, String)]
  var failures = 0

  private def fail(msg: String): Unit = {
    failures += 1
    System.err.println(s"[sparkbench] FAILED $msg")
  }

  def apply(op: Op, pass: Int, out: Either[Throwable, Seq[Row]]): Unit = out match {
    case Left(e) =>
      fail(s"${op.name} (pass $pass): ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    case Right(rows) =>
      val got = (rows.size, Digest.of(rows))
      if (record) {
        val first = seen.getOrElseUpdate(op.name, got)
        if (first != got)
          fail(s"${op.name} (pass $pass): result $got differs from pass 0's $first")
      } else expected.get(op.name) match {
        case None => fail(s"${op.name}: no expected result in $file")
        case Some(want) =>
          if (want != got) fail(s"${op.name} (pass $pass): (rows, digest) $got, expected $want")
      }
  }

  def finish(): Unit = if (record) {
    Files.createDirectories(file.getParent)
    Files.write(file, seen.map { case (op, (n, d)) => s"$op\t$n\t$d" }.toSeq.asJava)
  }
}
