"""machida-twin launcher: load an application module by name, call its
``application_setup(args)`` (the reference's app entrypoint contract —
every examples/python app exposes exactly this), and run the returned
Application.

    python -m graft.run --application-module my_app [app args...]
    python -m graft.run --application-module my_app --stream [...]

Batch mode builds a local SparkSession and executes the pipeline once
(`Application.run`); ``--stream`` enters the continuous machida-style
micro-batch loop (`Application.run_stream`) until the source idles for
``--idle-polls`` polls (default: run until interrupted). Sink results
print as one line per sink, so a launched app behaves like a machida
process writing to its sinks.
"""

import argparse
import importlib
import os
import sys


def main(argv=None):
    argv = list(sys.argv[1:] if argv is None else argv)
    parser = argparse.ArgumentParser(prog="graft.run")
    parser.add_argument("--application-module", required=True)
    parser.add_argument("--stream", action="store_true")
    parser.add_argument("--stream-tcp", metavar="HOST:PORT",
                        help="feed the app's source into a live Scala "
                        "graft-connector listener (at-least-once resume)")
    parser.add_argument("--cookie", default="")
    parser.add_argument("--throttle", type=float, default=0.0,
                        help="per-message pacing for --stream-tcp (seconds)")
    parser.add_argument("--progress-every", type=int, default=0,
                        help="emit STREAM_TCP_PROGRESS sent=N to stdout "
                        "every N messages (0 = off)")
    parser.add_argument("--give-up-after", type=float, default=None,
                        help="abort --stream-tcp after this many seconds "
                        "with no send progress (default: retry forever)")
    parser.add_argument("--idle-polls", type=int, default=None)
    parser.add_argument("--poll-interval", type=float, default=0.25)
    known, app_args = parser.parse_known_args(argv)

    sys.path.insert(0, os.getcwd())
    module = importlib.import_module(known.application_module)
    if not hasattr(module, "application_setup"):
        raise SystemExit(
            "module %r has no application_setup(args) — the machida app "
            "contract" % (known.application_module,))
    app = module.application_setup(app_args)

    if known.stream_tcp:
        host, port = known.stream_tcp.rsplit(":", 1)
        sent, por = app.run_stream_tcp(host, int(port), cookie=known.cookie,
                                       throttle_s=known.throttle,
                                       progress_every=known.progress_every,
                                       give_up_after_s=known.give_up_after)
        print("STREAM_TCP_DONE sent=%d acked_por=%d" % (sent, por))
    elif known.stream:
        sinks = app.run_stream(idle_polls=known.idle_polls,
                               poll_interval=known.poll_interval)
        for i, sink in enumerate(sinks):
            print("sink[%d]: %d messages" % (i, len(sink)))
            for m in sink:
                print("sink[%d] %r" % (i, m))
    else:
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[4]")
                 .appName(app.name)
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.session.timeZone", "UTC")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("WARN")
        try:
            results = app.run(spark)
            for i, res in enumerate(results):
                if isinstance(res, list):
                    print("sink[%d]: %d messages" % (i, len(res)))
                    for m in res:
                        print("sink[%d] %r" % (i, m))
                else:
                    print("sink[%d]: %r" % (i, res))
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
