package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: derive an N×-scaled copy of an sf directory under
  * target/ (ids shifted per replica so keys stay distinct and joins
  * keep TPC-H-ish selectivity). Used to probe how plans scale beyond
  * the provided sf0.1 — linearity here is the evidence that the
  * operator designs hold at 100 TB.
  *
  * Usage: Scale <srcSfDir> <outDir> <multiplier> [table,table,...]
  * With a table list, only those tables are written — a 1000×
  * documents-only corpus doesn't pay for 600 M lineitem rows.
  *
  * GRAFT_SCALE_JITTER (r13, verdict item 1): when set to an
  * amplitude (e.g. "0.05"), replica EMBEDDINGS get a deterministic
  * per-(vec, replica, dim) perturbation instead of being exact
  * copies. Without it a scaled embeddings corpus is mult-1 identical
  * twins per base vector — 6-dp distance ties everywhere, so
  * exact-vs-approximate agreement probes measure tie-breaking, not
  * routing (the r12 honest note). Replica 0 stays bit-identical to
  * the source either way.
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val Array(src, out, multS) = args.take(3)
    val mult = multS.toInt
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    val jitter: Double =
      sys.env.get("GRAFT_SCALE_JITTER").map(_.toDouble).getOrElse(0.0)
    // GRAFT_SCALE_CLONE=1 (r17): keep replica TEXTS bit-identical to
    // the source — the dup-heavy regime the clone-collapse routes
    // (q239/q245/q224) exist for, where every doc has mult-1 exact
    // duplicates and true pair lists are Θ(dups²) by definition
    val clone: Boolean =
      sys.env.get("GRAFT_SCALE_CLONE").contains("1")
    val spark = graft.Session.local()

    def replicate(df0: DataFrame, shifts: Map[String, Long]): DataFrame = {
      // spread the source rows first: the replica transform (per-word
      // suffixing at mult=1000 is 50 M string rewrites) inherits the
      // source partitioning, and the small tables arrive in 1-2 files
      val df = df0.repartition(32)
      df.crossJoin(spark.range(mult).select(col("id").as("__rep")))
        .select(df.columns.map { c =>
          shifts.get(c) match {
            case Some(base) => (col(c) + col("__rep") * base).as(c)
            // every WORD of a replica gets a replica-index suffix, so
            // replicas share NO shingles: without this every doc gains
            // (mult-1) near-exact duplicates and similarity probes
            // measure a quadratic pair blowup that is a property of
            // the replication, not of a real mult-times-larger corpus
            // (true dup pairs then scale linearly: one copy per replica)
            case None if c == "text" && !clone =>
              when(col("__rep") === 0, col(c)).otherwise(
                array_join(
                  transform(split(col(c), " "),
                    x => concat(x, lit("r"), col("__rep"))), " ")).as(c)
            case None if c == "embedding" && jitter > 0.0 =>
              // xxhash64-seeded uniform in [-jitter, jitter) per
              // (vec, replica, dim) — replicas become near-twins with
              // distinct 6-dp distances instead of exact twins
              when(col("__rep") === 0, col(c)).otherwise(
                expr(s"""transform(embedding, (x, d) -> CAST(x +
                  |  $jitter * (CAST(shiftrightunsigned(
                  |    xxhash64(vec_id, `__rep`, d), 12) AS DOUBLE)
                  |    / 2251799813685248.0 - 1.0) AS FLOAT))"""
                  .stripMargin)).as(c)
            case None => col(c)
          }
        }: _*)
    }

    val K = 100000000L // replica key shift
    // doc/vec ids double as event-time SECONDS in the streaming dedup
    // ops, which fail loudly when an id reaches the year-2100 watermark
    // sentinel (4.1e9). documents/embeddings are small tables, so a
    // 1e6 shift keeps replicas distinct while 100x tops out at ~1e8 —
    // far below the sentinel; the big fact tables keep the wide shift.
    val D = 1000000L
    // fact tables replicate with shifted keys; dims stay as-is so
    // join fan-in grows like the data (the realistic shape)
    val plans = Map(
      "lineitem" -> Map("l_orderkey" -> K),
      "orders" -> Map("o_orderkey" -> K),
      "events" -> Map("event_id" -> K),
      "documents" -> Map("doc_id" -> D),
      "embeddings" -> Map("vec_id" -> D))
    for (t <- graft.Tables.names if only.isEmpty || only.contains(t)) {
      val df = graft.Tables.t(spark, src, t)
      plans.get(t).foreach { shifts =>
        shifts.foreach { case (c, base) =>
          val mx = df.agg(max(col(c).cast("long"))).head.getLong(0)
          require(mx < base, s"$t.$c max $mx >= replica shift $base — " +
            "replicas would collide")
        }
      }
      val scaled = plans.get(t).map(replicate(df, _)).getOrElse(df)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t -> ${if (plans.contains(t)) mult + "x" else "1x"}")
    }
    spark.stop()
  }
}
