package graft

import graft.etl.Pipeline
import graft.fs.{NioLocalFileSystem, NioLocalFs}
import graft.streaming.Streams
import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Under the engine's Hadoop posture a local commit forks no `chmod`
  * or `readlink`: the posture's local file system answers both in-JVM.
  * Spawns are counted from `jdk.ProcessStart` events.
  */
class ForkCensusSpec extends SparkSpec {

  private val posture: Map[String, String] =
    GraftSession.posture.collect { case (k, v) if k.startsWith("spark.hadoop.") =>
      k.stripPrefix("spark.hadoop.") -> v
    }.toMap
  private val hadoopDefault = Map(
    "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName)

  /** Runs `body` with `fsConfs` in the session's Hadoop conf and counts
    * the `chmod`/`readlink` processes the JVM starts meanwhile. The
    * FileSystem cache is keyed without the conf, so it is bypassed for
    * the run; the session's previous values come back afterwards.
    */
  private def census[T](fsConfs: Map[String, String])(body: => T): (T, Int) = {
    val confs = fsConfs + ("fs.file.impl.disable.cache" -> "true")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    rec.start()
    val out =
      try body
      finally {
        rec.stop()
        prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      val forks = RecordingFile.readAllEvents(file).asScala.count { e =>
        val cmd = e.getString("command").trim.split("\\s+").head
        Set("chmod", "readlink")(cmd.split('/').last)
      }
      (out, forks)
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  test("GraftSession's posture installs both local file system classes") {
    assert(posture("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    assert(posture("fs.AbstractFileSystem.file.impl") == classOf[NioLocalFs].getName)
  }

  test("q155's windowed aggregation (HDFS-backed state, local checkpoint) forks nothing, same rows") {
    def q155 = Streams.queries("q155_stream_window_agg")(spark, Sf).collect().toSeq
    val (engine, engineForks) = census(posture)(q155)
    val (default, defaultForks) = census(hadoopDefault)(q155)
    assert(defaultForks > 0, "Hadoop's default local FS forks here, so the census can see forks")
    assert(engineForks == 0)
    assert(engine.nonEmpty && engine == default)
  }

  test("a processStaged route forks nothing") {
    val staging = Files.createTempFile("graft-fork", ".json")
    Files.writeString(staging, """{"resultado":[{"id":1,"v":"a"},{"id":2,"v":"b"}],"links":[]}""")
    val target = Files.createTempDirectory("graft-fork-out").resolve("r.parquet")
    val (res, forks) = census(posture) {
      Pipeline.processStaged(spark, staging.toString, target.toString, Some("resultado"))
    }
    assert(res == Right(2L))
    assert(forks == 0)
  }
}
