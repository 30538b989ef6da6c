package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** The schema a file-source read reports for data written with `schema`:
  * Spark reads every column back as nullable, nested fields included,
  * through a conversion it keeps private.
  */
object FileSourceSchema {
  def apply(schema: StructType): StructType = schema.asNullable
}
