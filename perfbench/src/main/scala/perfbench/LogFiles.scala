package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Reads what a table's `_delta_log` publishes — commit files, their
  * actions and CommitInfo.operationMetrics, checkpoints — straight from the
  * local filesystem, outside any timed region and without program code. */
object LogFiles {
  private val CommitRe = """(\d{20})\.json""".r
  private val CkptRe = """(\d{20})\.checkpoint(\..*)?\.parquet""".r

  final case class Commit(
      version: Long,
      jsonBytes: Long,
      adds: Int,
      removes: Int,
      addBytes: Long,
      addRecords: Long,
      metrics: Map[String, String])

  final case class LogState(commits: Int, checkpoints: Int, jsonBytes: Long, latest: Long)

  def logDir(table: String): Path = Paths.get(table, "_delta_log")

  private def names(table: String): Seq[(String, Long)] = {
    val s = Files.list(logDir(table))
    try s.iterator().asScala.map(p => p.getFileName.toString -> Files.size(p)).toVector
    finally s.close()
  }

  def state(table: String): LogState = {
    val ns = names(table)
    val commits = ns.collect { case (CommitRe(v), sz) => (v.toLong, sz) }
    val ckpts = ns.collect { case (CkptRe(v, _), _) => v.toLong }.distinct
    LogState(commits.size, ckpts.size, commits.map(_._2).sum,
      if (commits.isEmpty) -1L else commits.map(_._1).max)
  }

  def hasCheckpoint(table: String, version: Long): Boolean =
    names(table).exists { case (CkptRe(v, _), _) => v.toLong == version; case _ => false }

  private def numRecords(stats: JValue): Long = stats match {
    case JString(s) => JsonMethods.parse(s) \ "numRecords" match {
      case JInt(n) => n.toLong
      case _ => 0L
    }
    case _ => 0L
  }

  def commit(table: String, version: Long): Commit = {
    val p = logDir(table).resolve(f"$version%020d.json")
    val lines = Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).map(JsonMethods.parse(_))
    var adds, removes = 0
    var addBytes, addRecords = 0L
    var metrics = Map.empty[String, String]
    lines.foreach { j =>
      j \ "add" match {
        case a: JObject =>
          adds += 1
          addBytes += (a \ "size" match { case JInt(n) => n.toLong; case _ => 0L })
          addRecords += numRecords(a \ "stats")
        case _ =>
      }
      j \ "remove" match {
        case _: JObject => removes += 1
        case _ =>
      }
      j \ "commitInfo" \ "operationMetrics" match {
        case JObject(fs) => metrics = fs.collect {
          case (k, JString(v)) => k -> v
          case (k, JInt(v)) => k -> v.toString
          case (k, JLong(v)) => k -> v.toString
        }.toMap
        case _ =>
      }
    }
    Commit(version, Files.size(p), adds, removes, addBytes, addRecords, metrics)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
