package graft.sources.connector

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong


/** Raw ingest ceiling of the live connector path: an UNPACED sender
  * streams `n` messages through the socket protocol into the
  * `graft-connector` source while the query counts them; reports
  * end-to-end msgs/sec (send → frame → buffer → micro-batch → sink) and
  * the sender-side frame rate. The giles-style soak fixes the RATE to
  * verify accounting; this measures the ceiling.
  *
  * Run: `sbt "runMain graft.sources.connector.ConnectorThroughput [n]"`.
  */
object ConnectorThroughput {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500000)
    val spark = graft.GraftSession.local("connector-throughput")
    val received = new AtomicLong(0)
    val ckpt = Files.createTempDirectory("connector_tp_ckpt").toString
    val q = spark.readStream.format("graft-connector")
      .option("port", "0").option("name", "tp").option("cookie", "")
      .option("credits", (1 << 18).toString)
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        received.addAndGet(batch.count()); ()
      }
      .start()
    val payload = "x" * 64 // 64-byte payloads, giles-ish record size
    val source = new SeqSource(
      IndexedSeq.tabulate(n)(i => s"$payload$i".getBytes(StandardCharsets.UTF_8)))
    val client = new AtLeastOnceClient("localhost",
      () => ConnectorRegistry.port("tp").get, "", "tp", "w", 1L, "s", source)
    val t0 = System.nanoTime()
    client.run() // returns when all n sent AND final por acked
    val sendSec = (System.nanoTime() - t0) / 1e9
    val deadline = System.currentTimeMillis + 60000
    while (received.get < n && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    val e2eSec = (System.nanoTime() - t0) / 1e9
    q.stop(); spark.stop()
    println(
      s"""{"metric":"connector_throughput","n":$n,"payload_bytes":${payload.length},""" +
        s""""send_acked_sec":${f"$sendSec%.2f"},"e2e_sec":${f"$e2eSec%.2f"},""" +
        s""""msgs_per_sec":${(n / e2eSec).toInt},"received":${received.get}}""")
  }
}
