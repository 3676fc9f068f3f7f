package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.streaming.{LocalCheckpointFileManager, StreamRun}

/** The fork-free local checkpoint manager keeps every check of the
  * stock local path, and `StreamRun` scopes it (and the state
  * partition count) to one query start without leaking either conf. */
class StreamCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private val conf = new Configuration()
  private def tempDir(): java.nio.file.Path =
    Files.createTempDirectory("graft_ckpt")
  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)
  private def write(fm: LocalCheckpointFileManager, p: Path, s: String,
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    finally s.close()
  }

  test("createAtomic without overwrite refuses an existing file and keeps its bytes") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "old")
    intercept[FileAlreadyExistsException](write(fm, p, "new"))
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "old")
    write(fm, p, "new", overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "new")
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir()
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri),
      overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
  }

  test("created files and dirs get the stock LocalFileSystem's permissions") {
    val dir = tempDir()
    val fm = manager(dir)
    write(fm, new Path(dir.resolve("mine").toUri), "x")
    fm.mkdirs(new Path(dir.resolve("mine_dir").toUri))
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    stock.create(new Path(dir.resolve("stock").toUri)).close()
    stock.mkdirs(new Path(dir.resolve("stock_dir").toUri))
    // permission bits incl. sticky/setuid, as the kernel reports them
    def mode(n: String) =
      Files.getAttribute(dir.resolve(n), "unix:mode").asInstanceOf[Int] & 0xfff
    assert(mode("mine") == mode("stock"))
    assert(mode("mine_dir") == mode("stock_dir"))

    // asymmetric modes, and a sticky bit (the stock-chmod fallback)
    val noFork = new LocalCheckpointFileManager.NoForkLocalFileSystem()
    noFork.initialize(new URI("file:///"), conf)
    for (m <- Seq("640", "751", "007", "1755")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      noFork.setPermission(new Path(dir.resolve("mine_dir").toUri), perm)
      stock.setPermission(new Path(dir.resolve("stock_dir").toUri), perm)
      assert(mode("mine_dir") == Integer.parseInt(m, 8), m)
      assert(mode("mine_dir") == mode("stock_dir"), m)
    }
  }

  test("writes go through the checksummed no-fork file system: the .crc " +
      "sidecar is written and a flipped data byte fails the read") {
    val dir = tempDir()
    val fm = manager(dir)
    val probe = new LocalCheckpointFileManager(new Path(dir.toUri), conf) {
      def fileSystem: FileSystem = fs
    }
    assert(probe.fileSystem.isInstanceOf[LocalCheckpointFileManager.NoForkLocalFileSystem])
    // ... and a private instance: the JVM-wide cached file:// stays stock
    val cached = FileSystem.get(new URI("file:///"), conf)
    assert(probe.fileSystem ne cached)
    assert(!cached.isInstanceOf[LocalCheckpointFileManager.NoForkLocalFileSystem])
    val p = new Path(dir.resolve("2").toUri)
    write(fm, p, "checkpointed offsets")
    assert(names(dir) == Set("2", ".2.crc"))
    val in0 = fm.open(p)
    try assert(new String(in0.readAllBytes(), UTF_8) == "checkpointed offsets")
    finally in0.close()
    val raf = new RandomAccessFile(dir.resolve("2").toFile, "rw")
    try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 1) }
    finally raf.close()
    val in = fm.open(p)
    try intercept[ChecksumException](in.readAllBytes())
    finally in.close()
  }

  test("a non-local checkpoint path is rejected, naming the path") {
    val e = intercept[IllegalArgumentException](
      new LocalCheckpointFileManager(new Path("hdfs://nn:8020/ckpt/offsets"), conf))
    assert(e.getMessage.contains("hdfs://nn:8020/ckpt/offsets"))
  }

  test("StreamRun.toMemory restores both scoped confs exactly, also when start throws") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpointFileManagerClass")
    def snapshot() = keys.map(spark.conf.getAll.get)
    // the JVM-wide cached file:// instance (on this classpath it may be
    // a Hive proxy of LocalFileSystem) must be the one seen before
    def cachedLocalFs() = FileSystem.get(new URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val localFs = cachedLocalFs()
    val stream = spark.readStream.format("rate").load()
      .select($"value")
    val name = "graft_scoped_conf"
    val before = snapshot()
    assert(before(1).isEmpty, "the manager class is unset by default")

    val src = tempDir().resolve("t").toString
    Seq(1L, 2L).toDF("k").write.parquet(src)
    val ok = StreamRun.toMemory(spark,
      spark.readStream.schema("k LONG").parquet(src).groupBy().count(),
      "graft_scoped_ok", "complete")
    assert(ok.as[Long].collect().toSeq == Seq(2L))
    assert(snapshot() == before)

    // complete mode needs an aggregation: start() throws
    intercept[org.apache.spark.sql.AnalysisException](
      StreamRun.toMemory(spark, stream, name, "complete"))
    assert(snapshot() == before)

    // a key that WAS set is set back to its value
    spark.conf.set(keys(1),
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileContextBasedCheckpointFileManager")
    try {
      val set = snapshot()
      intercept[org.apache.spark.sql.AnalysisException](
        StreamRun.toMemory(spark, stream, name, "complete"))
      assert(snapshot() == set)
    } finally spark.conf.unset(keys(1))

    assert(cachedLocalFs() eq localFs)
    assert(!localFs.isInstanceOf[LocalCheckpointFileManager.NoForkLocalFileSystem])
  }
}
