"""Kafka source options: the reference's offset-seek modes for Spark.

Reference ``source/KafkaSource.scala:26-49`` (poll loop), 80-109 (offset
seek: committed / earliest / latest / timestamp / relative-duration), and
158-177 (commit-after-index, at-least-once). Structured Streaming mapping:

- committed → resume from the streaming checkpoint (no option needed; this
  is strictly stronger than Kafka group commits — exactly-once per batch)
- earliest / latest → ``startingOffsets``
- ts:<epoch_ms> → global ``startingTimestamp`` (Spark 3.4+; applies to all
  partitions — the per-topic ``startingOffsetsByTimestamp`` map requires
  concrete partition ids, unknowable before the stream starts)
- last:<duration> → timestamp = now - duration, same mechanism

This module holds only that mapping, ``options_for`` (unit-tested). A
deployment passes its options to ``spark.readStream.format("kafka")``,
parses each record's JSON ``value`` and feeds the batches to the same
``IncrementalIndexer.process_batch`` foreachBatch sink as the (tested)
file stream.
"""

from __future__ import annotations

import re
import time

_DURATION = re.compile(r"^last:(\d+)([smhd])$")
_UNITS = {"s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}


def options_for(topic: str, brokers: str, offsets: str = "committed") -> dict:
    """Translate the reference's offset-seek spec into Kafka source options."""
    opts = {"kafka.bootstrap.servers": brokers, "subscribe": topic}
    if offsets == "committed":
        pass  # checkpoint-managed: never set startingOffsets on restart
    elif offsets in ("earliest", "latest"):
        opts["startingOffsets"] = offsets
    elif offsets.startswith("ts:"):
        # global startingTimestamp (Spark 3.4+) applies to every partition —
        # startingOffsetsByTimestamp has no "-1" partition wildcard and would
        # fail at stream start on a real broker
        opts["startingTimestamp"] = str(int(offsets[3:]))
    else:
        m = _DURATION.match(offsets)
        if not m:
            raise ValueError(f"unsupported offsets spec: {offsets!r}")
        ts = int(time.time() * 1000) - int(m.group(1)) * _UNITS[m.group(2)]
        opts["startingTimestamp"] = str(ts)
    return opts

