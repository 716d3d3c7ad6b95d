package graft

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkConf
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.connector.read.InputPartition
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.connector.{ConnectorPartition, ConnectorReaderFactory}

/** The wire format of a `graft-connector` batch partition: what the
  * driver ships inside each task (and twice more in the stage task
  * binaries) must read back as exactly the buffered rows, in message-id
  * order, with a null key or value kept apart from an empty one, and
  * must stay compact.
  */
class ConnectorPartitionSpec extends AnyFunSuite {
  type Buffered = (Long, Array[Byte], Array[Byte]) // event_time, key, value
  type Row = (Long, Long, Long, Option[Seq[Byte]], Option[Seq[Byte]])

  private val ser = new JavaSerializer(new SparkConf()).newInstance()

  private def bytes(s: String) = s.getBytes(StandardCharsets.UTF_8)

  /** A stream buffer as the connector keeps it, filled out of id order. */
  private def buffer(rows: Seq[(Long, Buffered)]) = {
    val b = new java.util.TreeMap[Long, Buffered]()
    scala.util.Random.shuffle(rows).foreach { case (id, r) => b.put(id, r) }
    b
  }

  private def expected(sid: Long, rows: Seq[(Long, Buffered)]): Seq[Row] =
    rows.sortBy(_._1).map { case (id, (et, k, v)) =>
      (sid, id, et, Option(k).map(_.toSeq), Option(v).map(_.toSeq))
    }

  private def roundTrip(p: ConnectorPartition): ConnectorPartition =
    ser.deserialize[InputPartition](ser.serialize[InputPartition](p))
      .asInstanceOf[ConnectorPartition]

  private def read(p: InputPartition): Seq[Row] = {
    val r = ConnectorReaderFactory.createReader(p)
    val out = ArrayBuffer.empty[Row]
    try while (r.next()) {
      val row = r.get()
      def bin(i: Int) =
        if (row.isNullAt(i)) None else Some(row.getBinary(i).toSeq)
      out += ((row.getLong(0), row.getLong(1), row.getLong(2), bin(3), bin(4)))
    } finally r.close()
    out.toSeq
  }

  test("0 rows round-trip to an empty partition") {
    val p = roundTrip(ConnectorPartition.of(3L, buffer(Nil)))
    assert(p.numRows == 0 && p.streamId == 3L && p.bytes.isEmpty)
    assert(read(p).isEmpty)
  }

  test("1 row round-trips") {
    val rows = Seq(42L -> ((7L, bytes("k"), bytes("v"))))
    assert(read(roundTrip(ConnectorPartition.of(9L, buffer(rows)))) ==
      expected(9L, rows))
  }

  test("null, empty and non-ASCII keys and values read back apart, in id order") {
    val rows = Seq[(Long, Buffered)](
      5L -> ((50L, null, bytes("null key"))),
      1L -> ((10L, bytes("null value"), null)),
      3L -> ((30L, Array.emptyByteArray, bytes("empty key"))),
      4L -> ((40L, bytes("empty value"), Array.emptyByteArray)),
      2L -> ((20L, null, null)),
      6L -> ((60L, Array.emptyByteArray, Array.emptyByteArray)),
      -8L -> ((-1L, bytes("clé ключ 键"), bytes("wert é€😀"))),
      Long.MaxValue -> ((Long.MinValue, Array[Byte](0, -1, 127, -128), bytes("last"))))
    val got = read(roundTrip(ConnectorPartition.of(1L, buffer(rows))))
    assert(got == expected(1L, rows))
    assert(got.map(_._2) == Seq(-8L, 1L, 2L, 3L, 4L, 5L, 6L, Long.MaxValue))
    // a sub-range, as a batch slices it: lo < message_id <= hi
    val b = buffer(rows)
    assert(read(roundTrip(ConnectorPartition.of(1L, b.subMap(2L, false, 5L, true)))) ==
      expected(1L, rows.filter { case (id, _) => id > 2L && id <= 5L }))
  }

  test("65,536 rows round-trip and serialise to the payload plus 24 bytes a row") {
    val n = 65536
    val rnd = new scala.util.Random(17)
    val rows = (0 until n).map { i =>
      val key = i % 97 match {
        case 0 => null
        case 1 => Array.emptyByteArray
        case _ => bytes(s"k${rnd.nextInt(1000)}")
      }
      val value = i % 89 match {
        case 0 => null
        case 1 => Array.emptyByteArray
        case 2 => bytes(s"ü€$i")
        case _ => bytes(s"payload-${rnd.nextLong()}-$i")
      }
      (1000L + 3L * i) -> ((1700000000000L + rnd.nextInt(5000), key, value))
    }
    val p = ConnectorPartition.of(2L, buffer(rows))
    val wire = ser.serialize[InputPartition](p)
    val payload = rows.map { case (_, (_, k, v)) =>
      Option(k).fold(0)(_.length) + Option(v).fold(0)(_.length)
    }.sum.toLong
    assert(wire.remaining <= payload + 24L * n + 1024,
      s"${wire.remaining} bytes for $n rows of $payload payload bytes")
    assert(read(ser.deserialize[InputPartition](wire)) == expected(2L, rows))
  }
}
