package graft

import graft.sources.Tables

/** The declared source schemas (Tables.schemas) must be exactly what Spark
  * infers from the files: a fixture whose schema drifted would otherwise
  * read nulls or fail deep inside a query instead of here. */
class TablesSpec extends SparkSpec {
  for (sf <- Seq("sf0.001", "sf0.01"); (name, declared) <- Tables.schemas.toSeq.sortBy(_._1))
    test(s"declared $name schema equals the inferred one ($sf)") {
      assert(declared == spark.read.parquet(s"/root/testdata/$sf/$name.parquet").schema)
    }
}
