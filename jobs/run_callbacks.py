"""Cluster job entrypoint: standalone callback (re)delivery.

The reference runs callback delivery as an independent worker coroutine
feeding off completed tasks (`enhanced_task_processor.py:858-876` — the
POST itself was a TODO there). `run_extract.py --callback-url` dispatches
inline after a run; this job is the detached counterpart for operational
redelivery: drain every terminal state row still owed a successful POST
(first deliveries AND retries of previously failed deliveries), without
touching the extraction pipeline.

Submit:

    spark-submit <cluster options> \
      --py-files dist/documentconvert_spark.zip \
      jobs/run_callbacks.py \
      --state <state table path> \
      --callback-url <url> \
      [--log <delivery log path>]      # default: <state>_callbacks

Rerun-safe: rows whose latest delivery already succeeded are skipped
(anti-join against the _SUCCESS-gated delivery log); exhausted failures
are retried on each invocation until they succeed.
"""

from __future__ import annotations

import argparse
import json
import sys

import _bootstrap  # noqa: F401  (self-sufficient launch; see jobs/_bootstrap.py)


def main() -> None:
    # absent flags stay unset, so deliver_callbacks's signature holds every default
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--state", required=True)
    ap.add_argument("--callback-url", required=True)
    ap.add_argument("--log", help="delivery log path (default: <state>_callbacks)")
    ap.add_argument("--host-shards", type=int,
                    help="split each host's deliveries across up to N "
                         "partitions (for load-balanced receivers; relaxes "
                         "per-host ordering)")
    ap.add_argument("--per-post-delay", type=float, dest="per_post_delay_s",
                    help="politeness pause in seconds between consecutive "
                         "POSTs within a partition")
    ap.add_argument("--max-per-host", type=int,
                    help="deliver at most N rows per host per invocation; "
                         "the remainder stays pending and the next "
                         "invocation's anti-join picks it up")
    opts = vars(ap.parse_args())

    from documentconvert_spark.callbacks import deliver_callbacks
    from documentconvert_spark.session import build_session
    from documentconvert_spark.state import StateStore

    spark = build_session(app_name="callbacks")
    state = StateStore(spark, opts.pop("state"))
    print(json.dumps(deliver_callbacks(state, opts.pop("log", None), **opts)))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
