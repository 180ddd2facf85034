package graft.io

/** DataSource V2 connector for SpatiaLite feature tables: the GeoPackage
  * connector's SQLite format in the SpatiaLite dialect
  * ([[SqliteFormat.SpatiaLite]]: `geometry_columns` metadata,
  * `idx_<t>_<g>_node` R*-tree naming, SpatiaLite blob decode), the same
  * sharing shape as [[SpatiaLiteIO]] over the RDD path:
  *
  * {{{
  *   spark.read.format("spatialite")
  *     .option("table", "roads")
  *     .option("bbox", "x0,y0,x1,y1")   // optional: idx_ R*-tree pruned
  *     .load("/data/file.sqlite")
  * }}}
  *
  * COUNT(*) is never metadata-answered (SpatiaLite keeps no maintained
  * feature-count table). A table absent from `geometry_columns` fails
  * loudly at planning time — surfacing raw un-decoded blobs would
  * corrupt downstream `st_*` consumers silently.
  */
class SpatiaLiteDataSource extends SpatialFileProvider(SqliteFormat.SpatiaLite)
