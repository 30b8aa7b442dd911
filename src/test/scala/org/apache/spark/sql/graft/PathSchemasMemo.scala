package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** The file-source schema memo, for specs outside this package. */
object PathSchemasMemo {
  def apply(): java.util.Map[(String, String, String), Option[StructType]] =
    PathSchemas.memo
}
