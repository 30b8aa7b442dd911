package graft.io

import org.apache.spark.sql.graft.PathSchemas

import graft.SparkSpec

class DiscoverySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("parquet discovery maps the full schema with engine types") {
    val fd = Discovery.fileDefinition(spark, s"$sf/lineitem.parquet")
    assert(fd.fileType === "parquet")
    assert(fd.fileName === "lineitem.parquet")
    assert(fd.columns.map(_.columnName) ===
      Schemas.lineitem.map(_.name))
    assert(fd.columns.map(_.`type`) ===
      Schemas.lineitem.map(_.engineType))
    assert(fd.fileSize === Discovery.formatSize(
      new java.io.File(s"$sf/lineitem.parquet").length))
  }

  test("file size counts the data files of a plain path, its file: URI " +
      "and a partitioned dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_disc_size")
    // under 1 KB each, so the formatted size is the exact byte count
    val plain = dir.resolve("one.parquet")
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/staged")
    java.nio.file.Files.move(java.nio.file.Files.list(dir.resolve("staged"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get, plain)
    val bytes = java.nio.file.Files.size(plain)
    assert(bytes < 1024)
    assert(Discovery.fileDefinition(spark, plain.toString).fileSize ===
      s"$bytes B")
    assert(Discovery.fileDefinition(spark, s"file:$plain").fileSize ===
      s"$bytes B")
    // a writer's output dir: part files under k=1/ and k=2/, beside
    // `.crc` and `_SUCCESS` files that are not data
    val parted = dir.resolve("parted.parquet")
    Seq((1L, 1), (2L, 2)).toDF("id", "k").write.partitionBy("k")
      .parquet(parted.toString)
    val parts = java.nio.file.Files.walk(parted).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("part-"))
    assert(parts.size === 2)
    val total = parts.map(java.nio.file.Files.size).sum
    assert(Discovery.fileDefinition(spark, parted.toString).fileSize ===
      Discovery.formatSize(total))
    assert(PathSchemas.listing(spark, parted.toString).map(_.bytes) ===
      Some(total))
  }

  test("file size formatting follows the reference's units") {
    assert(Discovery.formatSize(512) === "512 B")
    assert(Discovery.formatSize(2048) === "2.0 KB")
    assert(Discovery.formatSize(1536) === "1.5 KB")
    assert(Discovery.formatSize(3 * 1024 * 1024) === "3.0 MB")
  }

  test("unsupported extension raises like the reference") {
    intercept[IllegalArgumentException] {
      Discovery.load(spark, "/tmp/nope.feather")
    }
    // .xls is built-in since r7 (graft.io.Biff) — but a file that is not
    // an OLE2 compound file must fail with a clear signature error, not
    // a garbage parse
    val bogus = s"${System.getProperty("java.io.tmpdir")}/graft_bogus.xls"
    java.nio.file.Files.write(java.nio.file.Paths.get(bogus),
      Array.fill[Byte](600)(0x41))
    val e = intercept[IllegalArgumentException] {
      Discovery.load(spark, bogus)
    }
    assert(e.getMessage.contains("OLE2"))
  }

  test("xml round-trip discovers the same schema (S4)") {
    import spark.implicits._
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_disc.xml"
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
      .write.mode("overwrite").option("rowTag", "row").xml(out)
    val fd = Discovery.fileDefinition(spark, out)
    assert(fd.fileType === "xml")
    assert(fd.columns.map(c => (c.columnName, c.`type`)) ===
      Seq(("id", "NUMBER"), ("s", "VARCHAR"), ("v", "FLOAT")))
  }

  test("pluggable reader takes over an unsupported extension (S2)") {
    import spark.implicits._
    Discovery.registerReader("xlsx",
      (s, _) => Seq(("stub", 1L)).toDF("sheet", "rows"))
    try {
      val (df, tpe) = Discovery.load(spark, "/tmp/fake.xlsx")
      assert(tpe === "xlsx")
      assert(df.columns === Array("sheet", "rows"))
    } finally Discovery.unregisterReader("xlsx")
  }

  test("ingest ndjson round-trip preserves rows") {
    import spark.implicits._
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_disc.json"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("overwrite").json(out)
    val (df, tpe) = Discovery.load(spark, out)
    assert(tpe === "json")
    assert(df.count() === 2)
  }
}
