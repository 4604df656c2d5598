package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered gate: its name, plan, by-name oracle SQL and the two
  * flags the tools read (see [[graft.SparkEntry]]).
  */
private[graft] final case class Gate(name: String,
    plan: (SparkSession, String) => DataFrame, oracle: () => String,
    eager: Boolean, stream: Boolean)

/** A family of gates, one top-level object per family. The `gate(...)`
  * statements of the object's body run in its initializer and append to
  * [[gates]] in source order; the superclass constructor has set the
  * buffer up before the body runs.
  *
  * Families are top-level objects, not traits mixed into
  * [[graft.SparkEntry]]: a lambda, UDF or nested class declared in a
  * plan then reaches the family's members statically, and no closure
  * captures an enclosing instance that Spark would have to serialize.
  */
private[graft] abstract class GateFamily {

  private[graft] val gates = scala.collection.mutable.ArrayBuffer.empty[Gate]

  protected def gate(name: String, eager: Boolean = false, stream: Boolean = false)(
      plan: (SparkSession, String) => DataFrame)(oracle: => String): Unit =
    gates += Gate(name, plan, () => oracle, eager, stream)
}
