package org.apache.spark.sql.graftbridge

import org.apache.spark.util.HadoopFSUtils

/** The `private[spark]` file-name rule Spark's file index lists leaf
  * files with, re-exported so `graft.sources.Tables` picks its footer
  * from exactly the files Spark's schema inference would see.
  */
object FileListingBridge {

  /** Hidden names (`_x`, `.x`, `x._COPYING_`) except the parquet
    * summary files `_common_metadata` and `_metadata`.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
