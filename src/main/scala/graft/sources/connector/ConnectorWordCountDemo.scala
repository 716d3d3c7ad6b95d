package graft.sources.connector

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Cross-language PIPELINE harness: the Scala engine runs a streaming
  * word count over the live `graft-connector` listener and ships the
  * final counts to an external Python `SinkConnector` as length-framed
  * JSON pairs — the full machida topology (python source connector →
  * engine → python sink connector) with the engine in the middle:
  *
  *   python -m graft.run --stream-tcp → TCP → THIS → TCP → SinkConnector
  *
  * Args: `port sinkHost sinkPort nExpected [cookie]` where nExpected is
  * the TOTAL number of input messages (one word per message). Because the
  * source's offsets are point-of-ref ranges, a killed-and-resumed sender
  * contributes each message EXACTLY once to the aggregation; the final
  * snapshot ships only when the running total reaches nExpected, so
  * duplicates (overshoot) or loss (timeout) both fail loudly.
  * Prints `WORDCOUNT_DEMO_DONE total=N` on success.
  */
object ConnectorWordCountDemo {
  def main(args: Array[String]): Unit = {
    val Array(port, sinkHost, sinkPort) = args.take(3)
    val nExpected = args(3).toInt
    val cookie = if (args.length > 4) args(4) else ""
    val spark = graft.GraftSession.local("connector-wordcount-demo")

    @volatile var snapshot = Array.empty[(String, Long)]
    val ckpt = Files.createTempDirectory("connector_wc_ckpt").toString
    val q = spark.readStream.format("graft-connector")
      .option("port", port).option("cookie", cookie)
      .load()
      .select(col("value").cast("string").as("word"))
      .groupBy("word").count()
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        snapshot = batch.collect()
          .map(r => (r.getString(0), r.getLong(1)))
      }
      .start()

    val deadline = System.currentTimeMillis + 180000
    while (snapshot.map(_._2).sum < nExpected &&
        System.currentTimeMillis < deadline)
      Thread.sleep(100)
    // linger one beat so the trigger loop acks the final batch back to a
    // sender still waiting on its EOS
    Thread.sleep(3000)
    q.stop()

    val total = snapshot.map(_._2).sum
    val sock = new java.net.Socket(sinkHost, sinkPort.toInt)
    try {
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      snapshot.sortBy(_._1).foreach { case (word, count) =>
        val body = s"""["$word",$count]""".getBytes(StandardCharsets.UTF_8)
        out.writeInt(body.length); out.write(body)
      }
      out.flush()
    } finally sock.close()
    println(s"WORDCOUNT_DEMO_DONE total=$total")
    spark.stop()
  }
}
