"""Parity tests for the graft Python API: the machida-style pipelines must
reproduce the Scala engine's results for the reference example apps
(word_count, celsius) plus self-contained checks for merge, count/range
windows and the live TCP source/sink.

Run:  python3 python/tests/test_parity.py
Env:  GRAFT_SF_DIR     testdata dir (default /root/testdata/sf0.001)
      GRAFT_SCALA_OUT  dir with Verify output (q_word_count/, q_celsius/);
                       generated via sbt if absent.
"""

import os
import socket
import struct
import subprocess
import sys
import threading

_PYDIR = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, _PYDIR)
# python workers unpickle graft.* objects — they need the package too
os.environ["PYTHONPATH"] = (_PYDIR + os.pathsep +
                            os.environ.get("PYTHONPATH", ""))

import graft
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("GRAFT_SF_DIR", "/root/testdata/sf0.001")
REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))


def scala_out():
    out = os.environ.get("GRAFT_SCALA_OUT", "/tmp/graft_py_parity_scala")
    if not all(os.path.isdir(os.path.join(out, q)) for q in
               ("q_word_count", "q_celsius", "q_keyby_running_total",
                "q_asof_join")):
        subprocess.run(
            ["sbt", "-batch",
             "runMain graft.Verify %s %s "
             "q_word_count,q_celsius,q_keyby_running_total,q_asof_join"
             % (SF_DIR, out)],
            cwd=REPO, check=True, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL)
    return out


# ---------------------------------------------------------------------------
# word_count — reference examples/pony+python/word_count
# ---------------------------------------------------------------------------

@graft.computation_multi(name="split into words")
def split(text):
    import re
    return [w for w in re.split("[^a-z]+", text.lower()) if w]


@graft.key_extractor
def extract_word(word):
    return word


class CountAgg(graft.Aggregation):
    def initial_accumulator(self):
        return [0]

    def update(self, _word, acc):
        acc[0] += 1

    def combine(self, a, b):
        return [a[0] + b[0]]

    def output(self, key, acc):
        return (key, acc[0])


def test_word_count(spark, scala_dir):
    pipeline = (graft.source(
            "Split and Count",
            graft.ParquetSourceConfig(
                "docs", os.path.join(SF_DIR, "documents.parquet"),
                decoder=lambda r: r.text))
        .to(split)
        .key_by(extract_word)
        .to(CountAgg())
        .to_sink(graft.MemorySinkConfig()))
    app = graft.build_application("Word Count Application", pipeline)
    got = sorted(app.run(spark)[0])
    want = sorted((r.word, r.n) for r in
                  spark.read.parquet(os.path.join(scala_dir, "q_word_count"))
                  .collect())
    assert got == want, "word_count mismatch:\n py=%r\n sc=%r" % (
        got[:5], want[:5])
    print("ok word_count parity (%d words)" % len(got))


# ---------------------------------------------------------------------------
# celsius — reference examples/python/celsius*
# ---------------------------------------------------------------------------

@graft.computation(name="convert to fahrenheit")
def c2f(event):
    return (event.event_id, event.value * 1.8 + 32.0)


def test_celsius(spark, scala_dir):
    pipeline = (graft.source(
            "Celsius Conversion",
            graft.ParquetSourceConfig(
                "events", os.path.join(SF_DIR, "events.parquet")))
        .to(c2f)
        .to_sink(graft.MemorySinkConfig()))
    app = graft.build_application("Celsius to Fahrenheit", pipeline)
    got = sorted(app.run(spark)[0])
    want = sorted((r.event_id, r.fahrenheit) for r in
                  spark.read.parquet(os.path.join(scala_dir, "q_celsius"))
                  .collect())
    assert got == want, "celsius mismatch (bit-exact float expected)"
    print("ok celsius parity (%d rows, bit-exact)" % len(got))


# ---------------------------------------------------------------------------
# alphabet — per-key vote totals (reference examples/pony/alphabet), with
# the Scala engine's exact-decimal float discipline: Python's
# Decimal(repr(v)) equals Spark's BigDecimal(Double.toString(v)), so the
# quantized sums — and the final double — are BIT-EXACT across engines.
# ---------------------------------------------------------------------------

@graft.key_extractor
def event_type_of(event):
    return event.event_type


class VoteAgg(graft.Aggregation):
    def initial_accumulator(self):
        from decimal import Decimal
        return [Decimal(0), 0]

    def update(self, event, acc):
        from decimal import Decimal, ROUND_HALF_UP
        acc[0] += Decimal(repr(event.value)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)
        acc[1] += 1

    def combine(self, a, b):
        return [a[0] + b[0], a[1] + b[1]]

    def output(self, key, acc):
        return (key, float(acc[0]), acc[1])


def test_alphabet(spark, scala_dir):
    pipeline = (graft.source(
            "Alphabet Votes",
            graft.ParquetSourceConfig(
                "events", os.path.join(SF_DIR, "events.parquet")))
        .key_by(event_type_of)
        .to(VoteAgg())
        .to_sink(graft.MemorySinkConfig()))
    got = sorted(graft.build_application("alphabet", pipeline).run(spark)[0])
    want = sorted((r.event_type, r.total, r.n_events) for r in
                  spark.read.parquet(
                      os.path.join(scala_dir, "q_keyby_running_total"))
                  .collect())
    assert got == want, "alphabet mismatch (bit-exact decimal sums " + \
        "expected):\n py=%r\n sc=%r" % (got[:3], want[:3])
    print("ok alphabet parity (%d keys, bit-exact decimal sums)" % len(got))


# ---------------------------------------------------------------------------
# merge + collect — self-contained
# ---------------------------------------------------------------------------

def test_merge_collect(spark):
    a = graft.source("a", graft.DataFrameSourceConfig(
        "a", spark.range(5), decoder=lambda r: r.id))
    b = graft.source("b", graft.DataFrameSourceConfig(
        "b", spark.range(100, 103), decoder=lambda r: r.id))
    pipeline = (a.merge(b)
        .collect()
        .to(CountAgg())
        .to_sink(graft.MemorySinkConfig()))
    got = graft.build_application("merge", pipeline).run(spark)[0]
    assert got == [(0, 8)], got
    print("ok merge + collect")


# ---------------------------------------------------------------------------
# windows — alerts_windowed shape over a GenSource
# ---------------------------------------------------------------------------

class Tx(object):
    def __init__(self, user, amount, ts):
        self.user = user
        self.amount = amount
        self.ts = ts


class TxGen(object):
    """Deterministic generator: user cycles a/b, amount = i, ts = i sec."""

    def initial_value(self):
        return Tx("a", 0, 0)

    def apply(self, last):
        i = last.amount + 1
        return Tx("ab"[i % 2], i, graft.seconds(i))


@graft.key_extractor
def tx_user(tx):
    return tx.user


class SumAgg(graft.Aggregation):
    def initial_accumulator(self):
        return [0]

    def update(self, tx, acc):
        acc[0] += tx.amount

    def combine(self, a, b):
        return [a[0] + b[0]]

    def output(self, key, acc):
        return (key, acc[0])


def test_range_windows(spark):
    pipeline = (graft.source(
            "txs", graft.GenSourceConfig("gen", TxGen(), count=10,
                                         event_time=lambda tx: tx.ts))
        .key_by(tx_user)
        .to(graft.range_windows(graft.seconds(4)).over(SumAgg))
        .to_sink(graft.MemorySinkConfig()))
    got = sorted(graft.build_application("w", pipeline).run(spark)[0])
    # amounts 0..9, ts=i s, tumbling 4 s: [0,4) holds 0..3, [4,8) 4..7, [8,12) 8,9
    # user a = even amounts, b = odd
    want = sorted([("a", 0 + 2), ("b", 1 + 3), ("a", 4 + 6), ("b", 5 + 7),
                   ("a", 8), ("b", 9)])
    assert got == want, got
    print("ok range windows (tumbling)")


class AlertAgg(graft.Aggregation):
    """alerts_windowed shape: per-user windowed total, alert only when
    the window total clears a threshold (output may be None)."""

    def initial_accumulator(self):
        return [0]

    def update(self, tx, acc):
        acc[0] += tx.amount

    def combine(self, a, b):
        return [a[0] + b[0]]

    def output(self, key, acc):
        if acc[0] > 12:
            return ("deposit_alert", key, acc[0])
        if acc[0] < -12:
            return ("withdrawal_alert", key, acc[0])
        return None


class SignedTxGen(object):
    """amounts +1,-2,+3,-4,...; user cycles a/b; ts = i sec."""

    def initial_value(self):
        return Tx("a", 0, 0)

    def apply(self, last):
        i = abs(last.amount) + 1
        amt = i if i % 2 == 1 else -i
        return Tx("ab"[i % 2], amt, graft.seconds(i))


def test_alerts_windowed(spark):
    # reference examples/python/alerts_windowed: gen source -> key_by user
    # -> range windows over an Aggregation whose output can suppress
    pipeline = (graft.source(
            "Alerts (windowed)",
            graft.GenSourceConfig("gen", SignedTxGen(), count=12,
                                  event_time=lambda tx: tx.ts))
        .key_by(tx_user)
        .to(graft.range_windows(graft.seconds(6)).over(AlertAgg))
        .to_sink(graft.MemorySinkConfig()))
    got = sorted(graft.build_application("alerts", pipeline).run(spark)[0])
    # amounts 0,+1,-2,+3,...,+11 at ts=i s; positives land on user b
    # (odd i), negatives on a. windows of 6 s: [0,6) a=-6 b=+9 (both
    # inside the ±12 threshold, suppressed); [6,12) a=-24 b=+27 -> alerts
    want = sorted([("deposit_alert", "b", 27),
                   ("withdrawal_alert", "a", -24)])
    assert got == want, got
    print("ok alerts_windowed (aggregation output suppression)")


def test_sliding_windows(spark):
    pipeline = (graft.source(
            "txs", graft.GenSourceConfig("gen", TxGen(), count=6,
                                         event_time=lambda tx: tx.ts))
        .key_by(tx_user)
        .to(graft.range_windows(graft.seconds(4))
            .with_slide(graft.seconds(2)).over(SumAgg))
        .to_sink(graft.MemorySinkConfig()))
    got = sorted(graft.build_application("slide", pipeline).run(spark)[0])
    # amounts 0..5 (a=even, b=odd), ts=i s; windows start every 2 s and
    # span 4 s: [-2,2):{0,1} [0,4):{0..3} [2,6):{2..5} [4,8):{4,5}
    want = sorted([("a", 0), ("b", 1),          # [-2,2)
                   ("a", 0 + 2), ("b", 1 + 3),  # [0,4)
                   ("a", 2 + 4), ("b", 3 + 5),  # [2,6)
                   ("a", 4), ("b", 5)])         # [4,8)
    assert got == want, got
    print("ok sliding range windows (slide < range)")


def test_count_windows(spark):
    pipeline = (graft.source(
            "txs", graft.GenSourceConfig("gen", TxGen(), count=10))
        .key_by(tx_user)
        .to(graft.count_windows(2).over(SumAgg))
        .to_sink(graft.MemorySinkConfig()))
    got = sorted(graft.build_application("c", pipeline).run(spark)[0])
    # per key 5 messages -> windows of 2 then a remainder of 1
    assert len(got) == 6 and sum(n for _, n in got) == sum(range(10)), got
    print("ok count windows")


# ---------------------------------------------------------------------------
# live TCP source + sink — length-framed roundtrip
# ---------------------------------------------------------------------------

@graft.decoder(header_length=4, length_fmt=">I")
def decode_word(bs):
    return bs.decode("utf-8")


@graft.encoder
def encode_word(word):
    payload = word.upper().encode("utf-8")
    return struct.pack(">I", len(payload)) + payload


def _serve_words(server, words):
    conn, _ = server.accept()
    for w in words:
        payload = w.encode("utf-8")
        conn.sendall(struct.pack(">I", len(payload)) + payload)
    conn.close()


def test_tcp_roundtrip(spark):
    words = ["alpha", "beta", "gamma"]
    src_server = socket.socket()
    src_server.bind(("127.0.0.1", 0))
    src_server.listen(1)
    src_port = src_server.getsockname()[1]
    threading.Thread(target=_serve_words, args=(src_server, words),
                     daemon=True).start()

    received = []
    sink_server = socket.socket()
    sink_server.bind(("127.0.0.1", 0))
    sink_server.listen(8)
    sink_port = sink_server.getsockname()[1]

    def drain():
        while True:
            try:
                conn, _ = sink_server.accept()
            except OSError:
                return
            buf = b""
            while True:
                chunk = conn.recv(4096)
                if not chunk:
                    break
                buf += chunk
            while buf:
                n = struct.unpack(">I", buf[:4])[0]
                received.append(buf[4:4 + n].decode("utf-8"))
                buf = buf[4 + n:]
            conn.close()

    drain_thread = threading.Thread(target=drain, daemon=True)
    drain_thread.start()

    pipeline = (graft.source(
            "tcp words",
            graft.TCPSourceConfig("in", "127.0.0.1", src_port, decode_word))
        .to_sink(graft.TCPSinkConfig("127.0.0.1", sink_port, encode_word)))
    graft.build_application("tcp roundtrip", pipeline).run(spark)

    import time
    deadline = time.time() + 10
    while len(received) < len(words) and time.time() < deadline:
        time.sleep(0.05)
    sink_server.close()
    assert sorted(received) == sorted(w.upper() for w in words), received
    print("ok live TCP source -> sink roundtrip")


# ---------------------------------------------------------------------------
# market_spread — per-key latest-quote state consulted by orders (the
# reference's as-of example), folded in explicit event order
# ---------------------------------------------------------------------------

class LastView(object):
    def __init__(self):
        self.value = None


@graft.key_extractor
def by_user(event):
    return event.user_id


@graft.state_computation(name="check order against last view",
                         state=LastView, order=lambda ev: ev.event_id)
def market_check(event, last_view):
    if event.event_type == "view":
        last_view.value = event.value
        return None
    if event.event_type == "purchase":
        return (event.event_id, event.user_id, event.value, last_view.value)
    return None


def test_market_spread(spark, scala_dir):
    pipeline = (graft.source(
            "Market Spread",
            graft.ParquetSourceConfig(
                "events", os.path.join(SF_DIR, "events.parquet")))
        .key_by(by_user)
        .to(market_check)
        .to_sink(graft.MemorySinkConfig()))
    got = sorted(graft.build_application("market spread", pipeline)
                 .run(spark)[0])
    want = sorted(
        (r.event_id, r.user_id, r.value, r.last_view_value) for r in
        spark.read.parquet(os.path.join(scala_dir, "q_asof_join")).collect())
    assert got == want, "market_spread mismatch:\n py=%r\n sc=%r" % (
        got[:3], want[:3])
    assert any(v[3] is None for v in got)  # purchases before any view
    print("ok market_spread parity (%d orders, as-of state)" % len(got))


# ---------------------------------------------------------------------------
# experimental connector protocol — the classes the reference's
# connectors/ scripts are built on (SourceConnector/SinkConnector)
# ---------------------------------------------------------------------------

def test_source_connector(spark):
    import tempfile
    import graft.experimental as exp
    landing = tempfile.mkdtemp() + "/landing"
    c = exp.SourceConnector(
        args=["--connector", "udp", "--udp-landing-dir", landing],
        flush_every=2)
    c.connect()
    c.write("m1", event_time=graft.seconds(1), key="a")
    c.write(b"m2")          # bytes accepted like the reference's datagrams
    c.write("m3")
    c.close()               # flushes the odd tail
    assert c.count == 3
    files = sorted(os.listdir(landing))
    assert files == ["land_0.jsonl", "land_1.jsonl"], files  # no .tmp visible
    rows = spark.read.json(landing)
    got = {r.value for r in rows.collect()}
    assert got == {"m1", "m2", "m3"}, got
    assert rows.filter("key = 'a'").count() == 1
    print("ok source connector lands atomic jsonl for the directory queue")


def test_sink_connector(spark):
    import graft.experimental as exp
    sc = exp.SinkConnector(
        args=["--connector", "out", "--out-host", "127.0.0.1",
              "--out-port", "0"],
        required_params=["host", "port"], decoder=decode_word)
    sc.listen()
    words = ["delta", "echo", "foxtrot"]
    pipeline = (graft.source(
            "words", graft.DataFrameSourceConfig(
                "w", spark.createDataFrame([(w,) for w in words], ["w"]),
                decoder=lambda r: r.w))
        .to_sink(graft.TCPSinkConfig("127.0.0.1", sc.port, encode_word)))
    app = graft.build_application("to sink connector", pipeline)
    runner = threading.Thread(target=lambda: app.run(spark), daemon=True)
    runner.start()
    got = sorted(sc.read(timeout=30) for _ in words)
    sc.close()
    runner.join(30)
    assert got == sorted(w.upper() for w in words), got
    print("ok sink connector decodes the pipeline's framed TCP stream")


def test_at_least_once_source_connector(spark):
    import tempfile
    import graft.experimental as exp

    class ListSource(exp.BaseSource):
        """Resumable source over a fixed list; por = index of the next
        unread item. Records reset/ack calls for the assertions."""

        def __init__(self, items, fail_after=None):
            self.items = items
            self.pos = 0
            self.fail_after = fail_after
            self.resets = []
            self.acks = []

        def __str__(self):
            return "list_stream"

        def reset(self, pos=0):
            self.resets.append(pos)
            self.pos = pos

        def point_of_ref(self):
            return self.pos

        def __next__(self):
            if self.fail_after is not None and self.pos >= self.fail_after:
                raise RuntimeError("simulated transport crash")
            if self.pos >= len(self.items):
                raise StopIteration
            v = self.items[self.pos]
            self.pos += 1
            return (v, self.pos)

        def acked(self, por):
            self.acks.append(por)

    landing = tempfile.mkdtemp() + "/landing"
    items = ["r%d" % i for i in range(7)]

    def connector():
        return exp.AtLeastOnceSourceConnector(
            args=["--connector", "q", "--q-landing-dir", landing],
            flush_every=2)

    # first run crashes after 5 items: 2 full flushes landed (4 acked),
    # the 5th buffered message is lost with the process
    crashing = ListSource(items, fail_after=5)
    try:
        connector().join(crashing)
        assert False, "must propagate the transport crash"
    except RuntimeError:
        pass
    assert crashing.resets == [0] and crashing.acks == [2, 4]

    # restart: a fresh connector resumes the stream AT THE ACKED por —
    # only the unflushed tail is re-sent
    resumed = ListSource(items)
    connector().join(resumed)
    assert resumed.resets == [4], resumed.resets
    assert resumed.acks and resumed.acks[-1] == 7, resumed.acks
    vals = [r.value for r in spark.read.json(landing).collect()]
    assert sorted(vals) == sorted(items), vals  # every item landed
    assert len(vals) == len(items)  # ack discipline: no duplicate here
    print("ok at-least-once source connector resumes at the acked por")


def main():
    scala_dir = scala_out()
    spark = (SparkSession.builder.master("local[4]")
             .appName("graft-py-parity")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    try:
        test_word_count(spark, scala_dir)
        test_celsius(spark, scala_dir)
        test_alphabet(spark, scala_dir)
        test_market_spread(spark, scala_dir)
        test_merge_collect(spark)
        test_range_windows(spark)
        test_alerts_windowed(spark)
        test_sliding_windows(spark)
        test_count_windows(spark)
        test_tcp_roundtrip(spark)
        test_source_connector(spark)
        test_sink_connector(spark)
        test_at_least_once_source_connector(spark)
        print("ALL PYTHON PARITY TESTS PASSED")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
