package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

class LogSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft_log").toFile.getAbsolutePath

  test("S12 rotation: bounded file count, oldest lines fall off, order kept") {
    val dir = tmpDir()
    // each line is 30 bytes incl. newline; 3 lines/file before rotation
    val log = new RotatingJsonlLogger(dir, "t", maxBytes = 90, maxBackups = 3)
    val lines = (0 until 20).map(i => f"""{"event":"x","n":${i}%011d}""")
    lines.foreach(log.appendLine)
    assert(log.files.size == 4, "active + 3 backups, never more")
    val kept = log.retainedLines
    // 3 lines/file; 20 writes leave 2 in the active file + 3 full
    // backups = 11 retained — the TAIL of what was written, in order
    assert(kept == lines.takeRight(kept.size))
    assert(kept.size == 11 && !kept.contains(lines.head))
  }

  test("S12 an oversized line still lands, alone, without corrupting order") {
    val log = new RotatingJsonlLogger(tmpDir(), "t", maxBytes = 50, maxBackups = 2)
    log.appendLine("""{"small":1}""")
    log.appendLine("{\"big\":\"" + "x" * 200 + "\"}")
    log.appendLine("""{"small":2}""")
    val kept = log.retainedLines
    assert(kept.size == 3 && kept.head.contains("small\":1") &&
      kept.last.contains("small\":2"))
  }

  test("S12 listener logs start/progress/stop JSONL for a streaming query") {
    val dir = tmpDir()
    val log = new RotatingJsonlLogger(dir, "svc", maxBytes = 1 << 20)
    val listener = new RotatingLogListener(log)
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[Int](spark)
      in.addData(1, 2, 3)
      val q = in.toDF().writeStream.format("noop").start()
      q.processAllAvailable()
      q.stop()
      GraftSqlShim.awaitListeners(spark.sparkContext)
      val got = log.retainedLines
      assert(got.exists(_.contains("\"event\":\"started\"")))
      assert(got.exists(l => l.contains("\"event\":\"progress\"") &&
        l.contains("\"rows\":3")))
      // every line parses; the data trigger's line carries its phase split
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val progress = got.map(json.readTree)
        .filter(n => n.get("event").asText == "progress" &&
          n.get("rows").asLong == 3)
      assert(progress.size == 1, got.mkString("\n"))
      val d = progress.head.get("durationMs")
      TriggerFields.Phases.foreach { k =>
        assert(d.get(k).isNumber, s"durationMs.$k in ${progress.head}")
      }
      assert(got.exists(l => l.contains("\"event\":\"terminated\"") &&
        l.contains("\"error\":null")))
    } finally spark.streams.removeListener(listener)
  }

  test("S12 escaping keeps quotes/backslashes/control chars valid JSON") {
    assert(graft.Bench.esc("a\"b\\c\nd") == "a\\\"b\\\\c\\nd")
  }
}
