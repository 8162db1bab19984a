package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.MetadataBuilder

/** Build parameters a precomputed shared table carries as column metadata
  * (which survives projection, `distinct` and `localCheckpoint`): an
  * operator handed the table `require`s the parameters it was asked for
  * instead of silently returning rows for other ones. A table without the
  * keys (written by another job) is taken as is. */
private[graft] object BuildParams {

  /** `c` named `name`, carrying `params` (as strings). */
  def tag(c: Column, name: String, params: (String, Any)*): Column = c.as(name,
    params.foldLeft(new MetadataBuilder())((b, p) => b.putString(p._1, p._2.toString)).build())

  def check(table: DataFrame, column: String, consumer: String, params: (String, Any)*): Unit = {
    val meta = table.schema(column).metadata
    params.foreach { case (k, v) =>
      require(!meta.contains(k) || meta.getString(k) == v.toString,
        s"$consumer: the table was built with $k=${meta.getString(k)}, not $k=$v")
    }
  }
}
