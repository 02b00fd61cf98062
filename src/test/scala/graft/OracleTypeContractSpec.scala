package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The oracle-type contract (round-7 postmortem item): the driver's
  * correctness hash is type-sensitive, so every column a query emits
  * must have EXACTLY the DuckDB result type its oracle SQL produces —
  * DuckDB widens `sum(BIGINT)` to HUGEINT and `len()`/`row_number()` to
  * BIGINT, which hash differently from Spark's BIGINT/INT even when the
  * values are identical. `tools/oracle_types.json` pins the oracle-side
  * types (regenerated by `tools/verify_local.py --dump-types`, which
  * first proves them equal to the types of the Spark-written parquet);
  * this spec asserts the Spark side still maps onto that pin, so a
  * Spark-side type change fails in `sbt test` and an oracle-side change
  * fails in verify_local — the r7 "7 red rows shipped as green" class
  * is closed from both directions.
  */
class OracleTypeContractSpec extends SparkSpecBase {

  private def duck(dt: DataType): String = dt match {
    case IntegerType => "INTEGER"
    case LongType    => "BIGINT"
    case DoubleType  => "DOUBLE"
    case FloatType   => "FLOAT"
    case StringType  => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case DateType    => "DATE"
    case ShortType   => "SMALLINT"
    case ByteType    => "TINYINT"
    case a: ArrayType   => duck(a.elementType) + "[]"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => other.simpleString.toUpperCase
  }

  private lazy val manifest: Map[String, Map[String, String]] = {
    val root = new ObjectMapper().readTree(
      new java.io.File("tools/oracle_types.json"))
    root.properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala
        .map(f => f.getKey -> f.getValue.asText()).toMap
    }.toMap
  }

  test("manifest covers every oracled query (regenerate with --dump-types after adding one)") {
    val oracled = Queries.asMap.keySet
    val missing = oracled -- manifest.keySet
    val stale = manifest.keySet -- oracled
    assert(missing.isEmpty, s"queries missing from tools/oracle_types.json: $missing")
    assert(stale.isEmpty, s"manifest rows without a live oracle: $stale")
  }

  test("every query's Spark schema maps exactly onto its oracle's DuckDB result types") {
    val bad = manifest.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val schema = Queries.asMap(name).build(spark, sf()).schema
      val got = schema.fields.map(f => f.name -> duck(f.dataType)).toMap
      if (got == want) Nil
      else {
        val diffs = (got.keySet ++ want.keySet).toSeq.sorted.collect {
          case c if got.get(c) != want.get(c) =>
            s"$c: spark=${got.getOrElse(c, "<absent>")} oracle=${want.getOrElse(c, "<absent>")}"
        }
        Seq(s"$name -> ${diffs.mkString(", ")}")
      }
    }
    assert(bad.isEmpty, s"type-contract violations:\n  ${bad.mkString("\n  ")}")
  }

  test("the registry index rejects a query name given twice") {
    val q = Queries.asMap("q1_agg")
    val err = intercept[IllegalArgumentException] {
      Queries.index(Seq("a" -> q, "b" -> q, "a" -> q))
    }
    assert(err.getMessage.contains("duplicate query names: a"))
    assert(Queries.index(Seq("a" -> q, "b" -> q)).keySet == Set("a", "b"))
  }
}
