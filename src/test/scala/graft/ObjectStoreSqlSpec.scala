package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TieredCatalog

/** The SQL surface against a BUCKET warehouse: `TieredCatalog.warehouse`
  * set to a `graftos://` URL makes every DDL/DML verb object-store-
  * resident — CREATE TABLE writes its schema and durable-catalog
  * descriptor as bucket objects, INSERT/SELECT run the remote commit
  * protocol, recovery reads the bucket, DROP purges managed bucket
  * keys. The reference shape: the warehouse IS MinIO
  * (docker-compose.yml:139-155), with no local filesystem anywhere.
  */
class ObjectStoreSqlSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("paginated LIST: a listing wider than one page drains via " +
       "start-after on BOTH planes (filesystem listStatus and the " +
       "MetaStore catalog listing)") {
    val server = new graft.storage.InMemoryObjectStoreServer(listPageSize = 3)
    try {
      val conf = new org.apache.hadoop.conf.Configuration()
      graft.storage.GraftObjectFileSystem.register(conf)
      val root = s"graftos://127.0.0.1:${server.port}/pb"
      val fs = org.apache.hadoop.fs.FileSystem
        .newInstance(new java.net.URI(root), conf)
      (1 to 8).foreach { i =>
        val out = fs.create(
          new org.apache.hadoop.fs.Path(s"$root/dir/f$i"), true)
        out.write(s"payload$i".getBytes("UTF-8")); out.close()
      }
      val before = server.listPagesServed.get()
      val listed = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/dir"))
        .map(_.getPath.getName).sorted.toSeq
      assert(listed == (1 to 8).map(i => s"f$i").sorted,
        "a truncated page must not lose the listing's tail")
      assert(server.listPagesServed.get() - before >= 3,
        "8 keys at pageSize 3 must take >= 3 pages")

      // metadata plane: the catalog listing pages through the same
      // boundary (7 keys > 2 pages)
      val ms = new graft.storage.HttpMetaStore(
        s"http://127.0.0.1:${server.port}/pb/meta")
      (1 to 7).foreach(i => ms.put(s"k$i", s"v$i"))
      assert(ms.listKeys("k").sorted == (1 to 7).map(i => s"k$i"),
        "MetaStore listing must drain every page")
      fs.close()
    } finally server.stop()
  }

  test("the DURABLE CATALOG recovers across a pagination boundary: a " +
       "bucket warehouse with more table descriptors than one LIST " +
       "page still lists and recovers every table after a registry " +
       "wipe") {
    val server = new graft.storage.InMemoryObjectStoreServer(listPageSize = 2)
    val prev = TieredCatalog.warehouse
    try {
      TieredCatalog.warehouse = s"graftos://127.0.0.1:${server.port}/wh"
      val names = (1 to 5).map(i => s"pt$i")
      names.foreach { n =>
        spark.sql(s"CREATE TABLE graft.pgdb.$n (`id` BIGINT, `v` STRING)")
        spark.sql(s"INSERT INTO graft.pgdb.$n VALUES (1, '$n')")
      }
      // "restart": the in-memory registry forgets everything
      names.foreach(n => TieredCatalog.unregister("pgdb", n))
      // the listing spans ≥3 pages of catalog descriptors (5 entries,
      // page size 2) — a truncated LIST would lose tables silently
      val listed = spark.sql("SHOW TABLES IN graft.pgdb").collect()
        .map(_.getString(1)).toSet
      assert(names.toSet.subsetOf(listed),
        s"every persisted table must survive pagination: $listed")
      names.foreach { n =>
        assert(spark.sql(s"SELECT v FROM graft.pgdb.$n").head.getString(0)
          == n, s"recovered $n must read")
      }
    } finally {
      (1 to 5).foreach(i => TieredCatalog.unregister("pgdb", s"pt$i"))
      TieredCatalog.warehouse = prev
      server.stop()
    }
  }

  test("multipart upload: an artifact larger than one part streams as " +
       "parts and appears ATOMICALLY at complete; bytes round-trip") {
    val fsUrl = ObjectStoreStub.freshBucketFsUrl()
    val conf = new org.apache.hadoop.conf.Configuration()
    graft.storage.GraftObjectFileSystem.register(conf)
    val fs = org.apache.hadoop.fs.FileSystem
      .newInstance(new java.net.URI(fsUrl), conf)
    fs.getConf.setLong(
      graft.storage.GraftObjectFileSystem.MultipartSizeKey, 64 * 1024)
    try {
      val path = new org.apache.hadoop.fs.Path(s"$fsUrl/export/big.bin")
      // ~300 KB deterministic payload → 5 parts at 64 KB
      val payload = Array.tabulate(300 * 1024)(i =>
        ((i * 31 + 7) & 0xFF).toByte)
      val before = ObjectStoreStub.server.multipartCompletes.get()
      val out = fs.create(path, true)
      out.write(payload); out.close()
      assert(ObjectStoreStub.server.multipartCompletes.get() > before,
        "an object over the part size must go through multipart")
      val in = fs.open(path)
      val back = new Array[Byte](payload.length)
      in.readFully(0, back); in.close()
      assert(java.util.Arrays.equals(back, payload),
        "multipart reassembly must be byte-exact in part order")
      assert(fs.getFileStatus(path).getLen == payload.length)

      // ...and through a REAL export-sized artifact: a parquet commit
      // whose part file exceeds the part size streams multipart from
      // inside Spark's writer (the cached FS instance shares the
      // mutated conf in this JVM), and the table round-trips
      graft.storage.GraftObjectFileSystem.register(
        spark.sparkContext.hadoopConfiguration)
      val shared = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(fsUrl),
        spark.sparkContext.hadoopConfiguration)
      val prevPart = shared.getConf.getLong(
        graft.storage.GraftObjectFileSystem.MultipartSizeKey, 8L << 20)
      shared.getConf.setLong(
        graft.storage.GraftObjectFileSystem.MultipartSizeKey, 64 * 1024)
      try {
        val t = graft.storage.TieredTable(spark, s"$fsUrl/mp_table")
        val before2 = ObjectStoreStub.server.multipartCompletes.get()
        t.commitAppend((1L to 40000L)
          .map(i => (i, s"payload-$i-" + ("x" * 16)))
          .toDF("id", "v").coalesce(1))
        assert(ObjectStoreStub.server.multipartCompletes.get() > before2,
          "a >64 KB parquet commit must stream as multipart parts")
        assert(t.readCold().count() == 40000L)
        assert(t.readCold().agg(
          org.apache.spark.sql.functions.sum("id")).head.getLong(0) ==
          (1L to 40000L).sum)
      } finally shared.getConf.setLong(
        graft.storage.GraftObjectFileSystem.MultipartSizeKey, prevPart)
    } finally fs.close()
  }

  test("CREATE/INSERT/SELECT/ALTER/DROP run fully in the bucket") {
    val fsUrl = ObjectStoreStub.freshBucketFsUrl()
    val bucket = fsUrl.split("/").last
    val prev = TieredCatalog.warehouse
    TieredCatalog.warehouse = fsUrl
    try {
      spark.sql("""CREATE TABLE graft.os.t (
        |  `id` BIGINT NOT NULL, `v` STRING,
        |  PRIMARY KEY (`id`) NOT ENFORCED
        |)""".stripMargin)
      // the declared schema AND the durable-catalog descriptor are
      // bucket objects
      assert(ObjectStoreStub.keysUnder(s"$bucket/os/t")
        .exists(_.endsWith("meta/SCHEMA")))
      assert(ObjectStoreStub.keysUnder(s"$bucket/_catalog").nonEmpty)

      spark.sql("INSERT INTO graft.os.t SELECT * FROM VALUES " +
        "(1L, 'a'), (2L, 'b') AS t(id, v)")
      spark.sql("INSERT INTO graft.os.t SELECT * FROM VALUES " +
        "(2L, 'b2') AS t(id, v)")
      assert(spark.sql("SELECT id, v FROM graft.os.t ORDER BY id")
        .as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b2")), "PK upsert semantics in the bucket")

      // "restart": registry wiped; recovery reads the BUCKET catalog
      TieredCatalog.unregister("os", "t")
      assert(spark.sql("SELECT COUNT(*) FROM graft.os.t")
        .head().getLong(0) == 2L)
      assert(spark.sql("SELECT id, v FROM graft.os.t ORDER BY id")
        .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b2")),
        "the upsert's winners survive the registry wipe")
      assert(TieredCatalog.lookup("os", "t").get.pk == Seq("id"))

      // schema evolution writes back to the bucket
      spark.sql("ALTER TABLE graft.os.t ADD COLUMN extra BIGINT")
      assert(spark.table("graft.os.t").schema.fieldNames
        .contains("extra"))

      // managed DROP purges the bucket keys and the descriptor
      spark.sql("DROP TABLE graft.os.t")
      assert(ObjectStoreStub.keysUnder(s"$bucket/os/t").isEmpty,
        "managed table purged from the bucket")
      assert(TieredCatalog.lookup("os", "t").isEmpty)
    } finally {
      TieredCatalog.unregister("os", "t")
      TieredCatalog.warehouse = prev
    }
  }
}
