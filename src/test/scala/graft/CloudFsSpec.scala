package graft

import graft.catalog.Catalog
import graft.functions.sphere
import org.apache.spark.sql.functions._

/** A non-`file:` Hadoop scheme backed by the local disk — the closest
 *  a zero-egress sandbox gets to `s3a://`/`abfs://`/`gs://`: URI
 *  parsing, FileSystem resolution via `fs.<scheme>.impl`, and the
 *  conf-key threading are exactly the cloud code path; only the byte
 *  store is local. A path-rewriting delegate (the ViewFS shape), not
 *  a bare RawLocalFileSystem subclass: RawLocal's lazy permission
 *  loader builds java.io.File from the status URI and rejects any
 *  non-file scheme, so statuses are re-minted with the permission
 *  forced while the path is still file:. Instantiated by Hadoop
 *  reflection (public, no-arg). */
class GraftFsTestFileSystem extends org.apache.hadoop.fs.FileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
  private val local = new RawLocalFileSystem()
  private def toLocal(p: Path) = new Path("file", null, p.toUri.getPath)
  private def fromLocal(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
      new Path("graftfs", null, st.getPath.toUri.getPath))
  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    local.initialize(java.net.URI.create("file:///"), conf)
  }
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication, blockSize, progress)
  override def append(f: Path, bufferSize: Int,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean = local.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean = local.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] = {
    GraftFsTestFileSystem.bump(GraftFsTestFileSystem.listed, f)
    local.listStatus(toLocal(f)).map(fromLocal)
  }
  override def setWorkingDirectory(dir: Path): Unit = local.setWorkingDirectory(toLocal(dir))
  override def getWorkingDirectory: Path = new Path("graftfs:///tmp")
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus = {
    GraftFsTestFileSystem.bump(GraftFsTestFileSystem.statted, f)
    fromLocal(local.getFileStatus(toLocal(f)))
  }
}

/** Calls per path (the URI path, no scheme), across all instances. */
object GraftFsTestFileSystem {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicInteger
  type Calls = ConcurrentHashMap[String, AtomicInteger]
  val listed: Calls = new ConcurrentHashMap()
  val statted: Calls = new ConcurrentHashMap()
  def bump(calls: Calls, f: org.apache.hadoop.fs.Path): Unit =
    calls.computeIfAbsent(f.toUri.getPath.stripSuffix("/"), _ => new AtomicInteger).incrementAndGet()
  def count(calls: Calls, path: String): Int = Option(calls.get(path)).map(_.get).getOrElse(0)
}

/** The reference reads catalogs off cloud object stores by threading
 *  `storage_options` into per-call fsspec filesystems (lsd2_io.py:
 *  14-69); graft's counterpart is `Catalog.open`'s Hadoop conf keys.
 *  Until r12 that claim was documented but never exercised — this
 *  spec closes it: a full import -> meta read -> load -> cone search
 *  through a registered non-`file:` URI scheme. */
class CloudFsSpec extends SparkSpecBase {

  private def pts = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    .withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
    .withColumn("cra", sphere.raOf(col("k")))
    .withColumn("cdec", sphere.decOf(col("k")))

  test("Catalog.open storageOptions register a non-file: scheme; import/meta/load/cone run through it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cloudfs").toString
    val loc = s"graftfs://$tmp"
    // the storage_options analog: the scheme's impl key (in a real
    // deployment: fs.s3a.endpoint / credentials) arrives via open()
    // and applies to the session conf before the first read
    val cat = Catalog.open(spark, loc, "pts",
      Map("fs.graftfs.impl" -> classOf[GraftFsTestFileSystem].getName))
    // the location really resolves to the custom scheme, not file:
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftFsTestFileSystem], fs.getClass.getName)

    val df = pts
    Catalog.importFrom(df, loc, "pts", "cra", "cdec", "k",
      orderK = 4, threshold = 500, marginDeg = 1.0)
    // nothing may have leaked onto file: at the same path with the
    // scheme prefix intact; the hive tree must exist under the local
    // backing dir (the scheme's store)
    assert(new java.io.File(s"$tmp/pts").isDirectory, "backing store not written")

    // metadata JSON, hive tree, and margins all read back through
    // graftfs:// — keyword contract included
    assert(cat.raKw == "cra" && cat.decKw == "cdec" && cat.idKw == "k")
    assert(cat.load().count() == df.count())
    val cone = cat.coneSearch(ra = 180.0, dec = 0.0, radiusDeg = 30.0)
      .select("k").collect().map(_.getLong(0)).sorted
    val brute = df.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 30.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.nonEmpty && cone.toSeq == brute.toSeq,
      s"cone through graftfs:// must match brute force (${cone.length} vs ${brute.length})")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a graftfs:// handle checks its tree version through the Hadoop FS API and lists the tree once per version") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cloudfs_held").toString
    val loc = s"graftfs://$tmp"
    val cat = Catalog.open(spark, loc, "held",
      Map("fs.graftfs.impl" -> classOf[GraftFsTestFileSystem].getName))
    val df = pts
    Catalog.importFrom(df.filter(col("k") % 2 === 0), loc, "held", "cra", "cdec", "k",
      orderK = 4, threshold = 500, marginDeg = 1.0)
    val (tree, sidecar) = (s"$tmp/held/catalog", s"$tmp/held/catalog/_metadata")
    import GraftFsTestFileSystem.{count, listed, statted}
    def coneCount(): Long = cat.coneSearch(ra = 180.0, dec = 0.0, radiusDeg = 30.0).count()
    def brute(rows: org.apache.spark.sql.DataFrame): Long =
      rows.filter(sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)) < 30.0).count()
    /** (sidecar getFileStatus calls, tree root listings) made by `body`. */
    def calls(body: => Unit): (Int, Int) = {
      val (s0, l0) = (count(statted, sidecar), count(listed, tree))
      body
      (count(statted, sidecar) - s0, count(listed, tree) - l0)
    }

    val first = calls(assert(coneCount() == brute(df.filter(col("k") % 2 === 0))))
    assert(first._1 >= 1 && first._2 >= 1, s"first search: (version checks, listings) = $first")
    val second = calls(assert(coneCount() == brute(df.filter(col("k") % 2 === 0))))
    assert(second._1 >= 1 && second._2 == 0,
      s"a warm search checks the version but does not list the tree again: $second")

    Catalog(spark, loc, "held").append(df.filter(col("k") % 2 =!= 0))
    val third = calls(assert(coneCount() == brute(df), "a search after the append sees every row"))
    assert(third._1 >= 1 && third._2 >= 1, s"after the append the tree is listed again: $third")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
