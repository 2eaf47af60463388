package graft.sources

/** Test-only visibility bridge: the hive partition-value escaping is
  * package-private in the source module, but its round-trip law is a
  * property the cross-package PropertySpec pins.
  */
object GraftParquetTestBridge {
  def escapePath(s: String): String = GraftParquet.escapePathName(s)
  def unescapePath(s: String): String = GraftParquet.unescapePathName(s)
}
