package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Markov removal-effect attribution over an arbitrary event log (the
  * engine behind q182; the facade exposes it on caller schemas).
  *
  * Journeys = each user's channel touches up to their first conversion
  * event; they define a first-order chain over
  * `__start__` / channels / `__conv__` / `__null__`. A channel's credit
  * is the drop in the chain's START→CONV absorbing probability when the
  * channel is removed (transitions into it re-routed to `__null__`),
  * normalized into shares over the reported channel list.
  *
  * Scale: the corpus-sized work is two per-user windows and one
  * groupBy(src, dst); the chain is O(channels²) — a bounded enum — so
  * the absorbing solve runs driver-side on the collected matrix with
  * `iters` fixed power-iteration rounds (deterministic, replayable).
  */
object Markov {

  /** Cap on distinct (src,dst) transition pairs collected to the
    * driver: 100k pairs ≈ a few MB — far beyond any sane channel enum
    * (≈300 channels) yet loud long before a driver OOM. */
  val MaxTransitionPairs: Long = 100000L

  def removalEffects(events: DataFrame, user: Column, ts: Column, id: Column,
                     typ: Column, convType: String, channels: Seq[String],
                     iters: Int,
                     maxPairs: Long = MaxTransitionPairs): DataFrame = {
    val spark = events.sparkSession
    val ev = events.select(user.as("u"), ts.as("t"), id.as("i"), typ.as("ty"))
    val byUser = Window.partitionBy(col("u")).orderBy(col("t"), col("i"))
    val seqd = ev.withColumn("seq", row_number().over(byUser))
    val pur = seqd.filter(col("ty") === convType)
      .groupBy(col("u")).agg(min(col("seq")).as("pseq"))
    val byTouch = Window.partitionBy(col("u")).orderBy(col("seq"))
    val tch = seqd.join(pur, Seq("u"), "left")
      .filter(col("ty") =!= convType &&
        (col("pseq").isNull || col("seq") < col("pseq")))
      .withColumn("tord", row_number().over(byTouch))
      .withColumn("nxt", lead(col("ty"), 1).over(byTouch))
    val lab = seqd.select(col("u")).distinct()
      .join(pur.select(col("u"), lit(1).as("hasp")), Seq("u"), "left")
      .select(col("u"),
        when(col("hasp").isNotNull, "__conv__").otherwise("__null__").as("lab"))
    val raw = tch.filter(col("tord") === 1)
        .select(col("u"), lit("__start__").as("src"), col("ty").as("dst"))
      .unionByName(tch.filter(col("nxt").isNotNull)
        .select(col("u"), col("ty").as("src"), col("nxt").as("dst")))
      .unionByName(tch.filter(col("nxt").isNull).join(lab, "u")
        .select(col("u"), col("ty").as("src"), col("lab").as("dst")))
      .unionByName(lab.join(tch.select(col("u")).distinct(), Seq("u"), "left_anti")
        .select(col("u"), lit("__start__").as("src"), col("lab").as("dst")))
    // GUARDED driver collect (the q26 convention): the chain matrix is
    // O(states²) only while the channel column is a bounded enum. A
    // high-cardinality caller column would otherwise OOM the driver with
    // no diagnosis — bound the DISTINCT (src,dst) pair count first (an
    // O(1)-row aggregate that cannot itself OOM), fail loudly past the
    // cap. The frame is checkpointed so the corpus shuffle behind it
    // runs once, not once for the count and again for the collect.
    val transDf = graft.Checkpoints.materialize(
      raw.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt")))
    val nPairs = transDf.count()
    if (nPairs > maxPairs) throw new IllegalArgumentException(
      s"graft markovAttribution: the event log produces $nPairs distinct " +
        s"(src, dst) transition pairs > cap $maxPairs. The " +
        "removal-effect solve collects the full chain to the driver, which is " +
        "only safe for a bounded channel enum — reduce the channel column's " +
        "cardinality (bucket the long tail into an 'other' channel) or raise " +
        "the cap if the driver affords the memory.")
    val trans = transDf
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    def solve(removed: Option[String]): Double = {
      val t = trans.toSeq.flatMap { case ((s, d), c) =>
        if (removed.contains(s)) None
        else Some((s, if (removed.contains(d)) "__null__" else d, c))
      }
      val byS = t.groupBy(_._1)
      val outs = byS.view.mapValues(_.map(_._3).sum.toDouble).toMap
      val states = (t.map(_._1) ++ t.map(_._2)).distinct.sorted
      var p = states.map(s => s -> (if (s == "__conv__") 1.0 else 0.0)).toMap
      for (_ <- 1 to iters) {
        p = states.map { s =>
          s -> (s match {
            case "__conv__" => 1.0
            case "__null__" => 0.0
            case _ => byS.get(s)
              .map(_.map { case (_, d, c) => c / outs(s) * p(d) }.sum)
              .getOrElse(0.0)
          })
        }.toMap
      }
      p.getOrElse("__start__", 0.0)
    }
    val base = solve(None)
    val rows = channels.map(c => (c, base, solve(Some(c))))
    val tot = rows.map { case (_, b, r) => b - r }.sum
    import spark.implicits._
    val shareCol =
      if (tot == 0.0) lit(null).cast("double")
      else round((col("raw_base") - col("raw_removed")) / tot, 6)
    rows.toDF("channel", "raw_base", "raw_removed")
      .select(col("channel"), round(col("raw_base"), 6).as("base_pconv"),
        round(col("raw_removed"), 6).as("removed_pconv"),
        round(col("raw_base") - col("raw_removed"), 6).as("removal_effect"),
        shareCol.as("share"))
      .orderBy(col("channel"))
  }
}
