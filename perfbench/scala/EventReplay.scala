package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Stateful replays of the generated events table through
  * `SparkEntry.queries`: one op replays every gate in [[EventReplay.gates]]
  * in order. Set-up runs each gate once (the gates memoize their slice
  * fixtures per data dir) and dumps its result, with the gate's oracle
  * SQL, for the DuckDB check in `run.py`; each op's row counts must equal
  * the checked result's. */
final class EventReplay(spark: SparkSession, input: String, work: String,
                        meta: JsonNode) extends Workload {
  import EventReplay.gates
  private val events = meta.get("events").asLong
  private val dir = s"$work/data"
  private val expected = collection.mutable.HashMap.empty[String, Long]
  private val counted = collection.mutable.HashMap.empty[String, Long]

  def setup(): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.createLink(Paths.get(dir, "events.parquet"), Paths.get(input, "events.parquet"))
    val check = s"$work/check"
    gates.foreach { g =>
      SparkEntry.queries(g)(spark, dir).write.parquet(s"$check/$g")
      expected(g) = spark.read.parquet(s"$check/$g").count()
    }
    Json.write(Paths.get(check, "oracle_sql.json"),
      gates.map(g => g -> SparkEntry.oracleSql(g)).toMap.asJava)
    Json.write(Paths.get(check, "counts.json"), expected.asJava)
  }

  def op(i: Int): OpResult = {
    gates.foreach { g =>
      counted(g) = Trace.span("streaming." + g.stripPrefix("q_"))(
        SparkEntry.queries(g)(spark, dir).count())
    }
    OpResult(events * gates.size, "replay")
  }

  def check(i: Int, r: OpResult): Option[String] = {
    val bad = gates.filter(g => counted(g) != expected(g))
    if (bad.isEmpty) None
    else Some(bad.map(g => s"$g counted ${counted(g)}, checked ${expected(g)}").mkString("; "))
  }

  override def layers(nOps: Int): Map[String, Double] = {
    val ops = Layers.opSpans.filter(!_.end.isNaN).map(_.id).toSet
    gates.map { g =>
      val name = "streaming." + g.stripPrefix("q_")
      name + "_s" -> Layers.median(Trace.spans.filter(s => s.name == name && ops(s.op))
        .map(s => (s.end - s.start) / 1e3).toSeq)
    }.toMap
  }
}

object EventReplay {
  /** The transformWithState replay: three checkpointed restarts whose
    * per-user counts flow through the state store. */
  val gates = Seq("q_stream_typecounts_tws")
}
