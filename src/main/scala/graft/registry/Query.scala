package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One registered query: how to build it over an sf directory, the DuckDB SQL
 * that checks its output, and, for an approximate answer, the per-round
 * quality gate `graft.Bench` holds it to. The oracle is by-name, so listing
 * the registry builds no SQL string.
 */
final class Query(val name: String, val build: Query.Build, oracle: => String,
    val gate: Option[Gate]) {
  def oracleSql: String = oracle
}

object Query {
  type Build = (SparkSession, String) => DataFrame

  def apply(name: String, build: Build, oracle: => String,
      gate: Option[Gate] = None): Query = new Query(name, build, oracle, gate)
}

/**
 * An answer-quality gate: `measure` returns one value per entry of `fields`,
 * and the first value must satisfy `bound`. The values land in the bench
 * artifact as `section` → `key`. `needs` names the other queries the measure
 * reads; the gate runs only when those are selected too.
 */
final case class Gate(section: String, key: String, needs: Seq[String],
    fields: Seq[Gate.Field], bound: Gate.Bound,
    measure: (SparkSession, String) => Seq[Double])

object Gate {
  /** One artifact field and its printed decimals. A gate with a single
    * unnamed field writes its value bare instead of as an object. */
  final case class Field(name: String, decimals: Int)

  sealed trait Bound { def holds(v: Double): Boolean }
  final case class AtLeast(floor: Double) extends Bound {
    def holds(v: Double): Boolean = v >= floor
  }
  final case class AtMost(ceiling: Double) extends Bound {
    def holds(v: Double): Boolean = v <= ceiling
  }

  /** `json` is the gate's artifact value; `failed` marks its query failed. */
  final case class Outcome(json: String, failed: Boolean)

  /** Runs the measure once. A measure that throws fails its query and
    * writes `{"error": msg}`, so a broken gate reads red, never absent. */
  def evaluate(gate: Gate, spark: SparkSession, dir: String): Outcome =
    try {
      val vs = gate.measure(spark, dir)
      require(vs.size == gate.fields.size,
        s"${gate.key}: ${vs.size} values for ${gate.fields.size} fields")
      val cells = gate.fields.zip(vs).map { case (f, v) =>
        f.name -> String.format(java.util.Locale.ROOT, s"%.${f.decimals}f", Double.box(v))
      }
      val json = cells match {
        case Seq(("", v)) => v
        case _ => cells.map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
      }
      Outcome(json, failed = !gate.bound.holds(vs.head))
    } catch {
      case e: Throwable =>
        val msg = String.valueOf(e.getMessage).replaceAll("[\"\\\\\\n\\r\\t]", " ").take(120)
        Outcome(s"""{"error":"$msg"}""", failed = true)
    }
}
