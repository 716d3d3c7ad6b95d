package graft.sources.connector

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}


/** Cross-language harness: run the `graft-connector` listener on a FIXED
  * port until `nExpected` distinct messages arrive, then dump them as
  * JSONL and exit — the engine side for external (e.g. Python
  * `graft.wire.TcpAtLeastOnceSender`) senders to integrate against.
  *
  * Args: `port outPath nExpected [cookie]`. Prints
  * `CONNECTOR_DEMO_DONE rows=N` on success.
  */
object ConnectorDemo {
  def main(args: Array[String]): Unit = {
    val port = args(0).toInt
    val outPath = args(1)
    val nExpected = args(2).toInt
    val cookie = if (args.length > 3) args(3) else ""
    val spark = graft.GraftSession.local("connector-demo")

    val rows = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val ckpt = Files.createTempDirectory("connector_demo_ckpt").toString
    val q = spark.readStream.format("graft-connector")
      .option("port", port.toString).option("cookie", cookie)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // collect() is DEMO-ONLY: this main exists to dump a bounded test
        // feed as JSONL. Never copy this into an operator — real pipelines
        // aggregate/write distributed (see ConnectorWordCountDemo's agg or
        // TwoPcSink's bounded toLocalIterator).
        batch.collect().foreach { r =>
          rows.put(r.getLong(1),
            new String(r.getAs[Array[Byte]]("value"), StandardCharsets.UTF_8))
        }
      }
      .start()
    val deadline = System.currentTimeMillis + 180000
    while (rows.size < nExpected && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    // linger so the trigger loop flushes the final batch's protocol ack
    // (the sender's EOS wait depends on it)
    Thread.sleep(3000)
    q.stop()
    val sb = new StringBuilder
    rows.entrySet().forEach { e =>
      sb.append(s"""{"message_id":${e.getKey},"value":"${e.getValue}"}""")
        .append('\n')
    }
    Files.write(Paths.get(outPath), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"CONNECTOR_DEMO_DONE rows=${rows.size}")
    spark.stop()
  }
}
