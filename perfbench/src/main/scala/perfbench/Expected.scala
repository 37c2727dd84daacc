package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Expected outputs of the batch queries, one line per query:
  *
  * {{{
  * <query> TAB exact TAB <rows>:<lo>:<hi>   full digest must match
  * <query> TAB rows  TAB <rows>             output legitimately varies; row count must match
  * }}}
  *
  * Recorded once per data scale by `run.py --record` and kept beside the
  * benchmark. A query is recorded as `rows` only when its digest differed
  * between repeated invocations while recording. */
object Expected {
  sealed trait Check { def problem(d: Digest.Value): Option[String] }

  final case class Exact(want: Digest.Value) extends Check {
    def problem(d: Digest.Value): Option[String] =
      if (d == want) None else Some(s"digest $d != expected $want")
  }

  final case class Rows(want: Long) extends Check {
    def problem(d: Digest.Value): Option[String] =
      if (d.rows == want) None else Some(s"rows ${d.rows} != expected $want")
  }

  def load(path: String): Map[String, Check] =
    if (!Files.isRegularFile(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        l.split("\t") match {
          case Array(q, "exact", d) => q -> Exact(Digest.Value.parse(d))
          case Array(q, "rows", n) => q -> Rows(n.toLong)
          case _ => sys.error(s"bad expected line in $path: $l")
        }
      }.toMap

  def line(query: String, digests: Seq[Digest.Value]): String =
    if (digests.distinct.size == 1) s"$query\texact\t${digests.head}"
    else if (digests.map(_.rows).distinct.size == 1) s"$query\trows\t${digests.head.rows}"
    else sys.error(s"$query: row count varies between invocations (${digests.mkString(" ")})")
}
