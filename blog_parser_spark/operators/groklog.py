"""Grok-style access-log parsing — the log/telemetry half of the north
rule's "grok/regex parse". Lines are Apache-combined shaped; the parse is
a SINGLE anchored regex evaluation per line (rlike validation, fields via
non-regex substring scans), evaluated JVM-side in whole-stage codegen (no
Python stage, no Arrow hop). At 100 TB this is a map-only
scan feeding a map-side-combined aggregation — the cheapest possible
pipeline shape; the regex cost is the whole job, which is why it runs
once per line and not once per extracted field.

`synth_lines` builds byte-identical lines from the events fixture in both
engines (the DuckDB oracle in plans/queries_olap.py mirrors it), so the
round-trip is oracle-checkable without external log data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# COMMONAPACHELOG shape: ip - - [epoch] "METHOD path HTTP/1.1" status bytes
GROK_RX = r'^(\S+) - - \[(\d+)\] "(\w+) (\S+) HTTP/1\.1" (\d{3}) (\d+)$'


def synth_lines(events: DataFrame) -> DataFrame:
    """Deterministic access-log lines from events rows -> one `line` col."""
    method = (F.when(F.col("event_type") == "view", "GET")
              .when(F.col("event_type") == "click", "POST")
              .when(F.col("event_type") == "purchase", "PUT")
              .when(F.col("event_type") == "signup", "POST")
              .otherwise("DELETE"))
    status = (F.when(F.col("event_id") % 10 < 7, "200")
              .when(F.col("event_id") % 10 < 9, "404")
              .otherwise("500"))
    line = F.concat(
        F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".1"),
        F.lit(" - - ["),
        # NTZ -> timestamp -> long (direct NTZ->BIGINT casts fail in Spark 4)
        F.col("ts").cast("timestamp").cast("long").cast("string"),
        F.lit('] "'), method, F.lit(" /"), F.col("event_type"), F.lit("/"),
        (F.col("event_id") % 100).cast("string"), F.lit(' HTTP/1.1" '),
        status, F.lit(" "),
        F.floor(F.col("value") * 100).cast("string"))
    return events.select(line.alias("line"))


def parse_lines(raw: DataFrame) -> DataFrame:
    """Extract (ip, epoch, method, path, status, n_bytes) from `line`.

    ONE regex evaluation per line — rlike validates, then the fields
    come out with non-regex substring_index scans. Six same-pattern
    regexp_extract calls would execute the match six times (Catalyst's
    common-subexpression elimination does not merge different group
    indices); measured same-session interleaved at 16M lines this
    formulation is ~1.6x faster (BENCH/BASELINE.md, "single-pass grok
    parse A/B"). A regexp_replace-into-sentinel + split rewrite
    was ALSO measured and is ~2x SLOWER than even six extracts — the
    replacement-string materialization dominates — which is why this
    takes the substring route.

    Extraction is exact for every line the regex matches: all nine
    space-delimited tokens (ip, -, -, [epoch], "METHOD, path,
    HTTP/1.1", status, bytes) are \\S+/\\d+ shaped, so right-anchored
    token picks cannot be fooled by brackets or quotes INSIDE ip/path
    (global searches for ']' or '"' could). Misses keep regexp_extract's
    contract: "" for string fields, NULL (not an ANSI cast error) for
    numeric ones.
    """
    ok = F.col("line").rlike(GROK_RX)
    first = lambda c: F.substring_index(c, " ", 1)
    ip = first(F.col("line"))
    epoch = F.translate(first(F.substring_index("line", " ", -6)), "[]", "")
    method = F.translate(first(F.substring_index("line", " ", -5)), '"', "")
    path = first(F.substring_index("line", " ", -4))
    status = first(F.substring_index("line", " ", -2))
    n_bytes = F.substring_index("line", " ", -1)
    str_f = lambda c: F.when(ok, c).otherwise(F.lit(""))
    num_f = lambda c: F.when(ok, c).cast("long")
    return raw.select(
        str_f(ip).alias("ip"),
        num_f(epoch).alias("epoch"),
        str_f(method).alias("method"),
        str_f(path).alias("path"),
        str_f(status).alias("status"),
        num_f(n_bytes).alias("n_bytes"))


def requests_by_method_status(parsed: DataFrame) -> DataFrame:
    return (parsed.groupBy("method", "status")
            .agg(F.count(F.lit(1)).alias("requests"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.countDistinct("ip").alias("uniq_ips")))
