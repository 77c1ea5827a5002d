package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One redelivery or read of `lake`; `a` and `b` are fractions
  * in [0, 1) that pick its arguments. */
final case class PlanOp(kind: String, a: Double, b: Double)

/** The seeded inputs `perfbench/plan.py` generated for one run:
  *
  *  - `pass q1 q2 ...`             one query order per `etl_queries` pass
  *  - `expect q digest`            the pinned result digest of query q
  *  - `slice_rows n`, `rounds n`, `warm_rounds n`, `rounds_per_block n`
  *  - `churn i key:u|d ...`        the keys round i updates or deletes
  *  - `block kind:a:b ...`         the replays and reads of one `lake` block
  */
final case class Plan(passes: IndexedSeq[Seq[String]],
    expect: Map[String, String], sliceRows: Long,
    rounds: Int, warmRounds: Int, roundsPerBlock: Int,
    churn: Map[Int, Seq[(Long, Boolean)]], blocks: IndexedSeq[Seq[PlanOp]])

object Plan {
  def read(path: String): Plan = {
    val lines =
      if (path.isEmpty) Nil
      else Files.readAllLines(Paths.get(path)).asScala.toSeq.map(_.split(' ').toSeq)
    def num(k: String) = lines.find(_.head == k).map(_(1).toLong).getOrElse(0L)
    Plan(
      lines.filter(_.head == "pass").map(_.tail).toIndexedSeq,
      lines.filter(_.head == "expect").map(l => l(1) -> l(2)).toMap,
      num("slice_rows"), num("rounds").toInt, num("warm_rounds").toInt,
      num("rounds_per_block").toInt,
      lines.filter(_.head == "churn").map { l =>
        l(1).toInt -> l.drop(2).map { kv =>
          val Array(k, op) = kv.split(':')
          (k.toLong, op == "d")
        }
      }.toMap,
      lines.filter(_.head == "block").map(_.tail.map { o =>
        val Array(k, a, b) = o.split(':')
        PlanOp(k, a.toDouble, b.toDouble)
      }).toIndexedSeq)
  }
}

/** Writes everything a run recorded as one JSON document. */
object Report {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def write(ctx: PerfBench.Ctx, out: String): Unit = {
    val r = ctx.recorder
    val doc = Seq(
      "setup_ms" -> arr(ctx.setupMs.map(_.toString)),
      "session_ms" -> arr(ctx.sessionMs.map(_.toString)),
      "ops" -> arr(ctx.ops.map { o =>
        arr(Seq(str(o.layer), str(o.kind), o.block.toString, o.traced.toString,
          o.startMs.toString, o.endMs.toString, o.ok.toString,
          o.extra.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")))
      }),
      "jobs" -> arr(r.jobs.map { j =>
        arr(Seq(j.id, j.startMs, j.endMs, j.stages, j.tasks, j.exchanges,
          j.taskMs, j.gcMs, j.shuffleWrite, j.inputBytes, j.outputBytes).map(_.toString))
      }),
      "plans" -> arr(r.plans.map(p => arr(Seq(p.startMs, p.analysisMs,
        p.optimizationMs, p.planningMs).map(_.toString)))),
      "batches" -> arr(r.batches.map(b => arr(Seq(b.startMs, b.triggerMs,
        b.addBatchMs, b.checkpointMs, b.planningMs).map(_.toString)))),
      "results" -> ctx.results.map { case (k, v) => s"${str(k)}:$v" }
        .mkString("{", ",", "}"),
      "problems" -> arr(ctx.problems.map(str)))
    Files.writeString(Paths.get(out),
      doc.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",\n", "}\n"))
  }
}
