package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ClassicBridge
import org.apache.spark.sql.types.DoubleType

import graft.functions.Round6

/** The pair-operator kernel (partition → local candidates → verify).
  *
  * `frame` has one row per (id, block): the block keys, `id`, and the
  * payload the scores read, suffixed `_a`/`_b` per side. The sides join
  * on the keys; pairs orient `id_a < id_b` (each pair once) or, when
  * `ordered`, `id_a =!= id_b` (both directions, for neighbour lists).
  * `shared` first groups a pair's rows (ids + payload) into a count of
  * the blocks it shares. Scores evaluate in order, a later one may read
  * an earlier one; each DOUBLE score is rounded by the native [[Round6]]
  * (the 6 dp cross-engine rule) before `keep` filters. The result is the
  * ids, the keys if `withKeys`, the count and the scores: payload rides
  * the N-row block shuffle and dies at that projection. `probe`/`build`
  * rewrite the frame behind the left/right side. No session function is
  * needed: the rounding expression is built here.
  */
object BlockedPairs {

  /** Spark's `round(x, 6)` for doubles, bit-identical and cheaper. */
  def round6(x: Column): Column =
    ClassicBridge.mapExpr(x)(Round6(_))

  /** Set Jaccard |a ∩ b| / |a ∪ b| of two distinct arrays, unrounded. */
  def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  def apply(frame: DataFrame, id: String, keys: Seq[String], payload: Seq[String] = Nil,
            scores: Seq[(String, Column)] = Nil, keep: Option[Column] = None,
            ordered: Boolean = false, withKeys: Boolean = false,
            shared: Option[String] = None, probe: DataFrame => DataFrame = identity,
            build: DataFrame => DataFrame = identity): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame = df.select(
      keys.map(col) ++ (id +: payload).map(c => col(c).as(s"${c}_$s")): _*)
    val (idA, idB) = (s"${id}_a", s"${id}_b")
    val pairs = side(probe(frame), "a").join(side(build(frame), "b"), keys)
      .filter(if (ordered) col(idA) =!= col(idB) else col(idA) < col(idB))
    val grouped = shared.fold(pairs) { n =>
      pairs.groupBy((Seq(idA, idB) ++ payload.flatMap(p => Seq(s"${p}_a", s"${p}_b")))
        .map(col): _*).agg(count(lit(1)).as(n))
    }
    val scored = scores.foldLeft(grouped) { case (df, (name, value)) =>
      val raw = df.withColumn(name, value)
      if (raw.schema(name).dataType == DoubleType) df.withColumn(name, round6(value))
      else raw
    }
    keep.fold(scored)(scored.filter)
      .select((Seq(idA, idB) ++ (if (withKeys) keys else Nil) ++ shared ++
        scores.map(_._1)).map(col): _*)
  }

  /** Give both ids of each pair (`ids`) their row's `cols` from `rows`,
    * keyed by `id` and suffixed `_a`/`_b`. `broadcastSides` broadcasts
    * both lookups — the caller's [[AutoBroadcast]] decision. */
  def attach(pairs: DataFrame, rows: DataFrame, id: String, cols: Seq[String],
             ids: (String, String), broadcastSides: Boolean = false): DataFrame = {
    def side(pairId: String, s: String): DataFrame = {
      val df = rows.select(col(id).as(pairId) +: cols.map(c => col(c).as(s"${c}_$s")): _*)
      if (broadcastSides) broadcast(df) else df
    }
    pairs.join(side(ids._1, "a"), ids._1).join(side(ids._2, "b"), ids._2)
  }

  /** Verify candidate pairs by exact set Jaccard: [[attach]] each side's
    * `set`, add the rounded `jaccard`, drop the sets — so pairs never
    * shuffle arrays while the broadcast sides fit. */
  def verifyJaccard(cand: DataFrame, sets: DataFrame, id: String, set: String,
                    ids: (String, String), broadcastSides: Boolean): DataFrame =
    attach(cand, sets, id, Seq(set), ids, broadcastSides)
      .select(cand.columns.map(col) :+
        round6(setJaccard(col(s"${set}_a"), col(s"${set}_b"))).as("jaccard"): _*)
}
