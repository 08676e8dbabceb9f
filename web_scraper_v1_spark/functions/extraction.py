"""Vectorized HTML-to-text extraction.

Reproduces ReceiverResponseParser.Parse
(/root/reference/internal/parser/receiver_response_parser.go:18-37)
byte-identically per URL, as an Arrow-batched pandas UDF (the reference's
generic ``Parser[T]`` interface, internal/parser/parser.go:18-32, is the
"scalar UDF surface" — here it is one struct-returning vectorized UDF).

Semantics matched exactly:
* body split on ``\\n``; fewer than 3 lines => "invalid response format"
  error (parser.go:20-22). Errored rows are marked ``parse_error`` and
  dropped downstream, mirroring skip-on-error consumption
  (internal/message/consumer/rabbitmq_consumer.go:84-87).
* per line, first-matching prefix of {"Received User-Agent: ",
  "IP Address: ", "Forwarded Host: "} assigns the field; the prefixes are
  mutually exclusive by first byte, and for repeated lines the LAST match
  wins (Go loop order, parser.go:26-34).
* missing prefixes leave the field as the empty string (Go zero value).

The implementation is pandas-vectorized (split/explode/groupby-last), not a
per-row Python loop — per ``input_hint``: "vectorized pandas/Arrow UDFs (no
per-row Python) throughout".
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_scraper_v1_spark.fixtures import PREFIX_FH, PREFIX_IP, PREFIX_UA

RECEIVER_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("user_agent", T.StringType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("forwarded_host", T.StringType(), True),
        T.StructField("parse_error", T.BooleanType(), False),
    ]
)


def _extract_batch(html: pd.Series) -> pd.DataFrame:
    """Pure-pandas core (unit-testable without Spark)."""
    # Arrow hands binary columns over as bytes/None. Valid UTF-8 decodes
    # losslessly; each invalid sequence becomes U+FFFD, as Go's
    # encoding/json does when the reference marshals the response and as
    # ``make_valid_utf8`` does JVM-side in plans/, so one bad byte never
    # fails the task.
    if html.dtype == object:
        # C-level bytes->str decode (Series.str.decode); non-bytes entries
        # (already-str unit-test inputs, None) come out NaN and fall back
        # to the original value.
        dec = html.str.decode("utf-8", "replace")
        s = dec.where(dec.notna(), html)
    else:
        s = html
    s = s.astype("object")
    nlines = s.str.count("\n") + 1
    err = nlines.isna() | (nlines < 3)

    lines = s.str.split("\n").explode()

    def last_with_prefix(prefix: str) -> pd.Series:
        hit = lines[lines.str.startswith(prefix, na=False)]
        return hit.str.slice(len(prefix)).groupby(level=0).last()

    out = pd.DataFrame(index=s.index)
    for col, prefix in (
        ("user_agent", PREFIX_UA),
        ("ip_address", PREFIX_IP),
        ("forwarded_host", PREFIX_FH),
    ):
        vals = last_with_prefix(prefix).reindex(s.index)
        # Go zero value: missing prefix -> "" (only for parseable rows)
        vals = vals.where(vals.notna(), "")
        out[col] = vals.where(~err, None)
    out["parse_error"] = err.astype(bool)
    return out


@F.pandas_udf(RECEIVER_RESPONSE_SCHEMA)
def parse_receiver_response_udf(html: pd.Series) -> pd.DataFrame:
    return _extract_batch(html)


def extract_receiver_response(html: Column) -> Column:
    """Column-level entry point: binary html -> struct(user_agent,
    ip_address, forwarded_host, parse_error)."""
    return parse_receiver_response_udf(html)


def golden_text(parsed: Column) -> Column:
    """Canonical extracted-text serialization (pages.text golden column):
    the three parsed fields joined by newlines — i.e. the receiver response
    template (/root/reference/cmd/receiver/main.go:30) minus its prefixes."""
    return F.concat_ws(
        "\n",
        parsed["user_agent"],
        parsed["ip_address"],
        parsed["forwarded_host"],
    )
