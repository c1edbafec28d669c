package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.{DataType, StructType}

/** The row schema Spark's parquet writer stores in a file's footer, read
  * back the way `spark.read.parquet` reads it: parsed from its JSON and
  * made nullable at every level, as the file source relation does.
  *
  * Lives in a subpackage of `org.apache.spark.sql` because
  * `StructType.asNullable` is `private[spark]`.
  */
object FooterSchema {

  /** The schema in `json`; None when it is not a JSON struct type (a
    * footer written by an old Spark's legacy type-string format).
    */
  def parse(json: String): Option[StructType] =
    try DataType.fromJson(json) match {
      case s: StructType => Some(s.asNullable)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
}
