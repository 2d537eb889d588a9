package graft

import graft.operators.ArrayModeAggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, Encoder, functions => F}

/** The typed-`Aggregator` form of the multi-column mode: one immutable
  * frequency map per attribute, mode = (count DESC, value ASC). It is the
  * readable specification the native `ModeArrayAgg` is cross-checked
  * against (FunctionsSpec); the engine itself never runs it.
  */
class TypedArrayModeAggregator
    extends Aggregator[Seq[String], Seq[Map[String, Long]], Seq[String]] {

  /** Arity is unknown until the first record; empty marks "no data yet". */
  def zero: Seq[Map[String, Long]] = Seq.empty

  def reduce(b: Seq[Map[String, Long]], a: Seq[String]): Seq[Map[String, Long]] =
    if (a == null) b
    else {
      val base = if (b.isEmpty) Seq.fill(a.length)(Map.empty[String, Long]) else b
      base.lazyZip(a).map { (m, v) =>
        val key = if (v == null) ArrayModeAggregator.NullSentinel else v
        m.updated(key, m.getOrElse(key, 0L) + 1L)
      }
    }

  def merge(b1: Seq[Map[String, Long]], b2: Seq[Map[String, Long]]): Seq[Map[String, Long]] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else b1.lazyZip(b2).map { (m1, m2) =>
      m2.foldLeft(m1) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }
    }

  /** Deterministic tie-break: highest count wins, ties to the smallest value. */
  def finish(b: Seq[Map[String, Long]]): Seq[String] =
    b.map { m =>
      if (m.isEmpty) null
      else m.minBy { case (v, c) => (-c, v) }._1
    }

  def bufferEncoder: Encoder[Seq[Map[String, Long]]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder()
}

object TypedArrayModeAggregator {
  /** Column form through `functions.udaf` (encoder-based, ~2 µs/row
    * slower than the native aggregate).
    */
  def modeArrayUdaf(features: Column): Column =
    F.udaf(new TypedArrayModeAggregator()).apply(features)
}
