package graftbench

import scala.collection.mutable

/** The per-layer metrics and how a traced pass's spans turn into them. */
object Layers {
  /** Spans that carry the full listener set. */
  val Heavy = Seq("webgraph.dedup_links", "webgraph.host_edges", "linkrank", "trustrank",
    "hostrank", "refresh", "dedup.minhash_pairs", "dedup.exact", "decontam",
    "decontam_bloom", "ann.knn_brute")
  /** Spans that run the rank loop; they also report rounds and round_s. */
  val Rank = Set("linkrank", "trustrank", "hostrank", "refresh")
  val Kernels = Seq("graft_minhash", "graft_simhash", "graft_shingle_set", "graft_winnow")
  val Fields = Seq("s" -> "s", "self_s" -> "s", "jobs" -> "count", "task_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB")

  /** Every per-layer metric with its unit, in output order. */
  val names: Seq[(String, String)] =
    Seq("pass.s" -> "s", "pass.self_s" -> "s", "passes" -> "count", "trace_overhead_frac" -> "ratio") ++
      Heavy.flatMap { s =>
        Fields.map { case (f, u) => s"$s.$f" -> u } ++
          (if (Rank(s)) Seq(s"$s.rounds" -> "count", s"$s.round_s" -> "s") else Nil)
      } ++
      Kernels.map(k => s"kernel.$k.rows_per_s" -> "1/s") ++
      Seq("webgraph.keep_ratio" -> "ratio", "sessioncache.builds" -> "count",
        "sessioncache.hits" -> "count", "checkpoints.drain_s" -> "s",
        "checkpoints.blocks_leaked" -> "count", "dedup.candidates" -> "count",
        "dedup.candidate_precision" -> "ratio", "dedup.recall" -> "ratio",
        "decontam.bloom_extra" -> "count")

  /** Span metrics of one traced pass. Listener figures of a span include
    * its child spans' jobs; self_s is its time minus its child spans'.
    * round_s is the job time per round at the span's most frequent call
    * site, which is the loop's per-round materialization. */
  def fromSpans(spans: Seq[Span], jobs: JobMeter, passSeconds: Double,
                reading: String => Double): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val children = spans.groupBy(_.parent)
    def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
    def subtree(s: Span): Seq[Span] = s +: kids(s).flatMap(subtree)
    for (s <- spans if Heavy.contains(s.name)) {
      val sums = subtree(s).flatMap(x => jobs.byGroup.get(Tracer.group(x.id)))
      val n = s.name
      out(s"$n.s") += s.seconds
      out(s"$n.self_s") += s.seconds - kids(s).map(_.seconds).sum
      out(s"$n.jobs") += sums.map(_.jobs).sum
      out(s"$n.task_s") += sums.map(_.taskNs).sum / 1e9
      out(s"$n.gc_s") += sums.map(_.gcMs).sum / 1e3
      out(s"$n.shuffle_write_mb") += sums.map(_.shuffleWrite).sum / 1048576.0
      out(s"$n.shuffle_read_mb") += sums.map(_.shuffleRead).sum / 1048576.0
      out(s"$n.spill_mb") += sums.map(_.spill).sum / 1048576.0
      val rounds = reading(s"$n.rounds")
      if (Rank(n) && rounds > 0) {
        val own = jobs.byGroup.get(Tracer.group(s.id)).fold(Seq.empty[(String, Long)])(_.durations.toSeq)
        if (own.nonEmpty) {
          val loop = own.groupBy(_._1).values.maxBy(_.size)
          out(s"$n.round_s") += loop.map(_._2).sum / 1e3 / rounds
        }
      }
    }
    out("pass.s") = passSeconds
    out("pass.self_s") = passSeconds -
      spans.filter(_.name == "pass").flatMap(kids).map(_.seconds).sum
    out.toMap
  }
}
