"""JVM-native HTML-to-text extraction.

Reproduces ReceiverResponseParser.Parse
(/root/reference/internal/parser/receiver_response_parser.go:18-37)
byte-identically per URL, as one plain Spark expression (the reference's
generic ``Parser[T]`` interface, internal/parser/parser.go:18-32, is the
"scalar UDF surface" — here it is a struct-valued column expression that
codegen compiles; no Python worker runs it).

Semantics matched exactly:
* body split on ``\\n``; fewer than 3 lines => "invalid response format"
  error (parser.go:20-22). A NULL body is an error too, and
  ``parse_error`` is never NULL. Errored rows are marked ``parse_error``
  (their fields are NULL) and dropped downstream, mirroring skip-on-error
  consumption (internal/message/consumer/rabbitmq_consumer.go:84-87).
* per line, first-matching prefix of {"Received User-Agent: ",
  "IP Address: ", "Forwarded Host: "} assigns the field; the prefixes are
  mutually exclusive by first byte, and for repeated lines the LAST match
  wins (Go loop order, parser.go:26-34).
* missing prefixes leave the field as the empty string (Go zero value).
* a body that is not valid UTF-8 reads each invalid sequence as U+FFFD
  (``make_valid_utf8``), as Go's encoding/json does when the reference
  marshals the response, so one bad byte never fails the task.

``fixtures.parse_receiver_response`` is the row-at-a-time oracle the
byte-parity tests hold this expression to.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from web_scraper_v1_spark.fixtures import PREFIX_FH, PREFIX_IP, PREFIX_UA


def extract_receiver_response(html: Column) -> Column:
    """Column-level entry point: binary (or string) html -> struct(
    user_agent, ip_address, forwarded_host, parse_error)."""
    lines = F.split(F.make_valid_utf8(html.cast("string")), "\n", -1)
    err = F.coalesce(F.size(lines) < 3, F.lit(True))

    def field(prefix: str) -> Column:
        last = F.try_element_at(
            F.filter(lines, lambda line: line.startswith(prefix)), F.lit(-1)
        )
        value = F.coalesce(last.substr(len(prefix) + 1, 1 << 30), F.lit(""))
        return F.when(~err, value)

    return F.struct(
        field(PREFIX_UA).alias("user_agent"),
        field(PREFIX_IP).alias("ip_address"),
        field(PREFIX_FH).alias("forwarded_host"),
        err.alias("parse_error"),
    )


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
