package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream,
  ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SerializableConfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def javaBytes(o: AnyRef): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o); out.close()
    bytes.toByteArray
  }
  private def javaRoundTrip[T](o: T): T =
    new ObjectInputStream(new ByteArrayInputStream(javaBytes(o.asInstanceOf[AnyRef])))
      .readObject().asInstanceOf[T]

  /** Hadoop's own Writable round trip, the reference for every check. */
  private def hadoopRoundTrip(conf: Configuration): Configuration = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    conf.write(out); out.close()
    val back = new Configuration(false)
    back.readFields(new DataInputStream(new ByteArrayInputStream(bytes.toByteArray)))
    back
  }
  private def graftRoundTrip(conf: Configuration): Configuration =
    javaRoundTrip(new SerializableConf(conf)).value

  private def raw(conf: Configuration): Map[String, String] =
    conf.asScala.map(e => e.getKey -> e.getValue).toMap

  test("a round trip of the session's Hadoop conf gives the raw key/value set of readFields") {
    val conf = spark.sessionState.newHadoopConf()
    val expected = raw(hadoopRoundTrip(conf))
    assert(expected.size > 100, expected.size)
    assert(raw(graftRoundTrip(conf)) == expected)
  }

  test("values over 64 KB and non-ASCII values survive") {
    val conf = new Configuration(false)
    val big = "v" * 70000 + "é"
    val text = "ünïcödé ✓ 日本語 😀"
    conf.set("graft.big", big)
    conf.set("graft.utf", text)
    conf.set("graft.empty", "")
    val back = graftRoundTrip(conf)
    assert(back.get("graft.big") == big)
    assert(back.get("graft.utf") == text)
    assert(back.get("graft.empty") == "")
    assert(raw(back) == raw(hadoopRoundTrip(conf)))
  }

  test("a deprecated key resolves as it does after readFields") {
    val conf = new Configuration(false)
    conf.set("fs.default.name", "file:///graft-probe")
    val (ours, hadoop) = (graftRoundTrip(conf), hadoopRoundTrip(conf))
    for (k <- Seq("fs.default.name", "fs.defaultFS"))
      assert(ours.get(k) == hadoop.get(k), k)
    assert(ours.get("fs.defaultFS") == "file:///graft-probe")
  }

  test("the serialized conf is at most 1.2x its keys and values plus 1 KB") {
    val conf = spark.sessionState.newHadoopConf()
    val text = conf.asScala.iterator
      .map(e => e.getKey.getBytes(UTF_8).length + e.getValue.getBytes(UTF_8).length).sum
    val payload = javaBytes(new SerializableConf(conf)).length
    assert(payload <= 1.2 * text + 1024, s"$payload bytes for $text bytes of keys and values")
  }

  test("serialized glog writer and reader factories reach a filesystem only the session names") {
    // the scheme is known to this session's conf alone (and never
    // cached), so each write and read below resolves it through the
    // conf its factory shipped: batch and streaming writers, batch and
    // micro-batch readers
    val session = spark.newSession()
    session.conf.set("fs.sconfprobe.impl", classOf[SessionOnlyFileSystem].getName)
    session.conf.set("fs.sconfprobe.impl.disable.cache", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_sconf").toFile
    val path = "sconfprobe:" + dir.getAbsolutePath
    assertThrows[java.io.IOException](new Path(path).getFileSystem(new Configuration()))
    val before = SparkSession.getActiveSession
    SparkSession.setActiveSession(session)
    def row(id: Long) = new GenericInternalRow(Array[Any](id, id * 1000, id,
      UTF8String.fromString("e"), id.toDouble, UTF8String.fromString("{}")))
    try {
      val w = javaRoundTrip(new GlogWriterFactory(path)).createWriter(0, 1L)
      w.write(row(7L))
      new GlogBatchWrite(path, GraftLogSource.SchemaFixed, truncateFirst = false)
        .commit(Array(w.commit()))
      val sink = new GlogStreamingWrite(path, GraftLogSource.SchemaFixed)
      val info = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
      val sw = javaRoundTrip(sink.createStreamingWriterFactory(info)).createWriter(0, 2L, 0L)
      sw.write(row(8L))
      sink.commit(0L, Array(sw.commit()))
      val scan = session.read.format("glog").option("path", path).load()
        .queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }.get
      val stream = new GlogMicroBatchStream(path, GraftLogSource.SchemaFixed,
        Array.empty, maxFilesPerTrigger = None)
      for (factory <- Seq(scan.readerFactory, stream.createReaderFactory())) {
        val ids = scan.inputPartitions.flatMap { p =>
          val reader = javaRoundTrip(factory).createReader(p)
          try Iterator.continually(reader.next()).takeWhile(identity)
            .map(_ => reader.get().getLong(0)).toList
          finally reader.close()
        }
        assert(ids.sorted == Seq(7L, 8L), factory.getClass.getSimpleName)
      }
    } finally {
      before.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      org.apache.spark.network.util.JavaUtils.deleteRecursively(dir)
    }
  }
}

/** The local filesystem under a scheme that no default conf maps. */
class SessionOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sconfprobe:///")
}
