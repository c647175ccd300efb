package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex
import graft.sources.{InProcessChmodFs, IndexStore, StoreFs}

/** [[StoreFs]]: local store paths go through one checksummed
  * filesystem that sets modes in-process, leaving the same tree the
  * stock filesystem leaves; other schemes get the stock filesystem. */
class StoreFsSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$testdataDir/documents.parquet")
  private def conf = spark.sparkContext.hadoopConfiguration

  private val QueryId =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every entry under `root`: name with query ids masked, size (-1
    * for a directory) and mode. */
  private def tree(root: String): Seq[(String, Long, String)] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.filter(_ != r).map { p =>
      (QueryId.replaceAllIn(r.relativize(p).toString, "Q"),
        if (Files.isDirectory(p)) -1L else Files.size(p),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.toSeq.sorted
    finally walk.close()
  }

  /** A build, a delta and a compaction with a retained generation. */
  private def lifecycle(dir: String): Unit = {
    IndexStore.writeIndexTable(InvertedIndex.postingsUnordered(
      docs.where(col("doc_id") % 2 === 0)), dir)
    IndexStore.writeIndexDelta(InvertedIndex.postingsUnordered(
      docs.where(col("doc_id") % 2 === 1)), dir, epoch = 1L)
    IndexStore.compact(spark, dir, retainGeneration = true)
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft_storefs_spec").resolve("idx").toString

  test("a local store goes through the in-process filesystem") {
    StoreFs.of(new Path(freshDir()), conf) match {
      case l: LocalFileSystem => assert(l.getRaw.isInstanceOf[InProcessChmodFs])
      case other => fail(s"expected the checksummed local FS, got $other")
    }
    // one process-wide instance, whatever the path
    assert(StoreFs.of(new Path("/tmp"), conf) eq
      StoreFs.of(new Path("file:///var"), conf))
  }

  test("build, delta and compaction leave the stock filesystem's tree") {
    val ours = freshDir()
    lifecycle(ours)
    val stock = freshDir()
    // a deployment's own fs.file.impl is honored: the whole lifecycle
    // then runs on Hadoop's stock local filesystem
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    try {
      assert(!StoreFs.of(new Path(stock), conf)
        .asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[InProcessChmodFs])
      lifecycle(stock)
    } finally conf.unset("fs.file.impl")
    val t = tree(ours)
    assert(t === tree(stock))
    assert(t.exists(_._1.startsWith("_gen_0/letter=")))
    val crcs = t.filter(_._1.endsWith(".crc"))
    assert(crcs.nonEmpty)
    // every data file keeps its checksum sibling
    for ((name, _, _) <- t if name.contains("part-") && !name.endsWith(".crc")) {
      val f = Paths.get(name)
      val crc = Option(f.getParent).fold(Paths.get(s".${f.getFileName}.crc"))(
        _.resolve(s".${f.getFileName}.crc")).toString
      assert(crcs.exists(_._1 == crc), s"$name has no $crc")
    }
  }

  test("a flipped byte in a letter file is caught by the stock filesystem") {
    val dir = freshDir()
    IndexStore.writeIndexTable(InvertedIndex.postingsUnordered(docs), dir)
    val file = Files.walk(Paths.get(dir)).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && Files.size(p) > 0)
      .get
    val p = new Path(file.toUri)
    val stockFs = p.getFileSystem(conf)
    assert(!stockFs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[InProcessChmodFs])
    def readAll(fs: org.apache.hadoop.fs.FileSystem): Array[Byte] = {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
    val bytes = readAll(stockFs)
    assert(bytes === Files.readAllBytes(file))
    val raf = new java.io.RandomAccessFile(file.toFile, "rw")
    try { raf.seek(0); raf.write(bytes(0) ^ 0x20) } finally raf.close()
    intercept[ChecksumException](readAll(stockFs))
    intercept[ChecksumException](readAll(StoreFs.of(p, conf)))
  }

  test("other schemes and a configured fs.file.impl get the stock filesystem") {
    val c = new Configuration(conf)
    c.set("fs.graftraw.impl", classOf[RawLocalFileSystem].getName)
    val p = new Path("graftraw:///tmp/graft_storefs")
    assert(StoreFs.of(p, c) eq p.getFileSystem(c))
    assert(StoreFs.of(p, c).getClass === classOf[RawLocalFileSystem])
    // a scheme-less path resolves through fs.defaultFS
    c.set("fs.defaultFS", "graftraw:///")
    assert(StoreFs.of(new Path("/tmp/graft_storefs"), c) eq p.getFileSystem(c))
    val own = new Configuration(conf)
    own.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    own.setBoolean("fs.file.impl.disable.cache", true)
    assert(StoreFs.of(new Path("file:///tmp"), own).getClass ===
      classOf[RawLocalFileSystem])
  }

  test("modes are set in-process; bits outside 0777 take the stock path") {
    val fs = new InProcessChmodFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration(conf))
    val d = Files.createTempDirectory("graft_storefs_mode")
    val f = Files.createFile(d.resolve("f"))
    def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    fs.setPermission(new Path(f.toUri), mode("640"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) ===
      "rw-r-----")
    fs.setPermission(new Path(d.toUri), mode("1777"))
    assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0xfff) ===
      Integer.parseInt("1777", 8))
  }

  test("getFileSystem( appears in src/main only in StoreFs.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val callers = files(root).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains("getFileSystem(") finally src.close()
    }.map(_.getName)
    assert(callers === Seq("StoreFs.scala"))
  }
}
