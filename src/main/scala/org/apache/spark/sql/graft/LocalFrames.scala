package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  BoundReference, Cast}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType}

/** Driver-side results as local relations built straight from
  * primitive arrays: no reflective tuple encoder and no cast Project
  * over the rows. Spark's `Dataset.ofRows` is private to its sql
  * package, hence this one. */
object LocalFrames {

  /** The rows `(keys(i), values(i))` as a local frame with columns
    * `(keyName, valueName)`: the key cast from BIGINT to `keyType`
    * once per row as `col(keyName).cast(keyType)` would, with that
    * cast's nullability; the value BIGINT, not nullable. */
  def longPairs(spark: SparkSession, keyName: String, valueName: String,
                keyType: DataType, keys: Array[Long],
                values: Array[Long]): DataFrame = {
    require(keys.length == values.length,
      s"${keys.length} keys for ${values.length} values")
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val (key, rows) = SQLConf.withExistingConf(conf) {
      val cast = Cast(BoundReference(0, LongType, nullable = false), keyType,
        Some(conf.sessionLocalTimeZone))
      val toKey: Long => Any =
        if (keyType == LongType) k => k
        else k => cast.eval(InternalRow(k))
      (AttributeReference(keyName, keyType, cast.nullable)(),
        Vector.tabulate(keys.length)(i => InternalRow(toKey(keys(i)), values(i))))
    }
    val value = AttributeReference(valueName, LongType, nullable = false)()
    classic.Dataset.ofRows(session, LocalRelation(Seq(key, value), rows))
  }
}
