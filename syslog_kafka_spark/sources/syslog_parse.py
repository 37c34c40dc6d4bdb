"""RFC 3164 / RFC 5424 syslog parsing as Catalyst expressions.

The reference never actually parses syslog — its `scan()` treats each line
as an opaque string (/root/reference syslog/syslog_producer.go:177-183; a
leftover `syslogparser.LogParts` comment at :59 shows parsing was intended).
This module supplies the real capability for the rebuilt engine.

Output schema (FIXTURES.md §B.2):
  pri, facility (=pri/8), severity (=pri%8), version, ts, host, app,
  procid, msgid, msg, raw
Unparseable fields are null; unparseable lines keep pri NULL + raw.

Everything is regexp_extract + casts — JVM-side, codegen'd, and the
regexes stay in the RE2-compatible subset (no lookaround/backrefs) so the
DuckDB oracle can run the *same* patterns.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# RFC 5424: <PRI>VERSION SP TIMESTAMP SP HOSTNAME SP APP-NAME SP PROCID SP
#           MSGID SP STRUCTURED-DATA [SP MSG]
# groups:    1 pri   2 ver  3 ts    4 host  5 app  6 procid  7 msgid
#            8 structured-data ('-' or one-or-more [..] blocks)  9 msg
RFC5424_RE = (
    r"^<([0-9]{1,3})>([0-9]{1,2}) (\S+) (\S+) (\S+) (\S+) (\S+)"
    r"(?: (-|(?:\[[^\]]*\])+))?(?: (.*))?$"
)

# RFC 3164: <PRI>Mmm [d]d HH:MM:SS HOST TAG[PID]: MSG
# groups:    1 pri  2 month  3 day  4 time  5 host  6 app  7 pid  8 msg
RFC3164_RE = (
    r"^<([0-9]{1,3})>([A-Z][a-z]{2}) {1,2}([0-9]{1,2}) "
    r"([0-9]{2}:[0-9]{2}:[0-9]{2}) (\S+) ([^\[: ]+)(?:\[([0-9]+)\])?: ?(.*)$"
)

# RFC 3164 timestamps carry no year; the collector assumes one.
DEFAULT_YEAR = 2024


def _nil(c: Column) -> Column:
    """RFC 5424 nil value ('-') and empty extracts → null."""
    return F.when((c == "") | (c == "-"), F.lit(None)).otherwise(c)


def syslog_columns(line_col: str = "line", year: int = DEFAULT_YEAR) -> list[Column]:
    """The parse as a list of aliased Column expressions (pure projection —
    usable via select on batch or streaming frames alike).

    Dispatch: a line is RFC 5424 when `<PRI>VERSION ` prefixes it, RFC 3164
    when `<PRI>Mmm` does; anything else is unparseable (pri NULL, raw kept).
    """
    line = F.col(line_col)
    is5424 = line.rlike(r"^<[0-9]{1,3}>[0-9]{1,2} ")
    is3164 = line.rlike(r"^<[0-9]{1,3}>[A-Z][a-z]{2} {1,2}[0-9]{1,2} ")

    def g5424(i: int) -> Column:
        return F.regexp_extract(line, RFC5424_RE, i)

    def g3164(i: int) -> Column:
        return F.regexp_extract(line, RFC3164_RE, i)

    pri = (
        F.when(is5424, g5424(1)).when(is3164, g3164(1)).otherwise(F.lit(None)).cast("int")
    )
    # PRI is 0..191 per RFC 5424 §6.2.1; beyond that the line is invalid.
    pri = F.when(pri <= 191, pri)

    ts5424 = _nil(g5424(3)).cast("timestamp")
    # 'Mmm  d' double space already normalized by the {1,2} match; rebuild
    # with the assumed year for a real timestamp.
    ts3164 = F.to_timestamp(
        F.concat(F.lit(f"{year} "), g3164(2), F.lit(" "), g3164(3), F.lit(" "), g3164(4)),
        "yyyy MMM d HH:mm:ss",
    )

    return [
        pri.alias("pri"),
        F.floor(pri / 8).cast("int").alias("facility"),
        (pri % 8).cast("int").alias("severity"),
        F.when(is5424 & pri.isNotNull(), g5424(2).cast("int")).alias("version"),
        F.when(is5424 & pri.isNotNull(), ts5424)
        .when(is3164 & pri.isNotNull(), ts3164)
        .alias("ts"),
        F.when(is5424 & pri.isNotNull(), _nil(g5424(4)))
        .when(is3164 & pri.isNotNull(), _nil(g3164(5)))
        .alias("host"),
        F.when(is5424 & pri.isNotNull(), _nil(g5424(5)))
        .when(is3164 & pri.isNotNull(), _nil(g3164(6)))
        .alias("app"),
        F.when(is5424 & pri.isNotNull(), _nil(g5424(6)))
        .when(is3164 & pri.isNotNull(), _nil(g3164(7)))
        .alias("procid"),
        F.when(is5424 & pri.isNotNull(), _nil(g5424(7))).alias("msgid"),
        F.when(is5424 & pri.isNotNull(), _nil(g5424(9)))
        .when(is3164 & pri.isNotNull(), _nil(g3164(8)))
        .alias("msg"),
        line.alias("raw"),
    ]


def parse_syslog_lines(df: DataFrame, line_col: str = "line", year: int = DEFAULT_YEAR) -> DataFrame:
    """Parse a DataFrame of raw syslog lines into the structured schema."""
    return df.select(*syslog_columns(line_col, year))


# RFC 5424 §6.3 structured data: SD-ELEMENT = "[" SD-ID *(SP SD-PARAM) "]",
# SD-PARAM = PARAM-NAME "=" %d34 PARAM-VALUE %d34. The element-body and
# param regexes below are shared verbatim with the DuckDB oracle; both stay
# in the RE2-safe subset. Escaped characters inside PARAM-VALUE (\" \] \\)
# are not decoded — values are taken up to the first '"' — which covers
# the overwhelmingly common case; an escaping value would need a real
# tokenizer on both engines.
SD_ELEMENT_RE = r"\[([^\]]*)\]"
SD_PARAM_RE = r'[A-Za-z0-9@._#-]+="[^"]*"'
SD_ID_RE = r"^(\S+)"


def sd_map_expr(line_col: str = "line") -> Column:
    """RFC 5424 structured data decoded to ``map<string,string>`` with
    flattened ``sd-id/param-name`` keys — one map per line, mirroring the
    reference's LogLine ``tag: map<string>`` model
    (/root/reference avro/logline.avsc:16-54, syslog.go:150).

    Null for RFC 3164 lines, unparseable lines, and the nil SD field
    ('-'). Pure Column expressions: regexp_extract_all for the element
    bodies, a nested transform for the params, map_from_entries at the
    end — all JVM-side, no UDF.
    """
    line = F.col(line_col)
    is5424 = line.rlike(r"^<[0-9]{1,3}>[0-9]{1,2} ")
    pri = F.regexp_extract(line, RFC5424_RE, 1).cast("int")
    sd_raw = _nil(F.regexp_extract(line, RFC5424_RE, 8))
    elements = F.regexp_extract_all(sd_raw, F.lit(SD_ELEMENT_RE), F.lit(1))
    entries = F.flatten(
        F.transform(
            elements,
            lambda e: F.transform(
                F.regexp_extract_all(e, F.lit(SD_PARAM_RE), F.lit(0)),
                lambda p: F.struct(
                    F.concat(
                        F.regexp_extract(e, SD_ID_RE, 1),
                        F.lit("/"),
                        F.substring_index(p, "=", 1),
                    ).alias("key"),
                    F.regexp_extract(p, r'"(.*)"', 1).alias("value"),
                ),
            ),
        )
    )
    return F.when(is5424 & (pri <= 191), F.map_from_entries(entries))


def with_structured_data(df: DataFrame, line_col: str = "line", out_col: str = "sd") -> DataFrame:
    """Append the decoded structured-data map to a frame of raw lines."""
    return df.withColumn(out_col, sd_map_expr(line_col))


def oracle_sql_for_lines(values_sql: str, year: int = DEFAULT_YEAR) -> str:
    """DuckDB twin of :func:`parse_syslog_lines` over a VALUES list.

    ``values_sql`` must be a `(VALUES (...), ...) AS t(line)` relation.
    Shares the exact regex constants with the Spark side.
    """
    r5424 = RFC5424_RE.replace("'", "''")
    r3164 = RFC3164_RE.replace("'", "''")
    return f"""
        WITH raw AS (SELECT line FROM {values_sql}),
        flags AS (
          SELECT line,
                 regexp_matches(line, '^<[0-9]{{1,3}}>[0-9]{{1,2}} ') AS is5424,
                 regexp_matches(line, '^<[0-9]{{1,3}}>[A-Z][a-z]{{2}} {{1,2}}[0-9]{{1,2}} ') AS is3164
          FROM raw
        ),
        pris AS (
          SELECT *,
            CASE
              WHEN is5424 THEN TRY_CAST(regexp_extract(line, '{r5424}', 1) AS INT)
              WHEN is3164 THEN TRY_CAST(regexp_extract(line, '{r3164}', 1) AS INT)
            END AS pri0
          FROM flags
        ),
        p AS (SELECT *, CASE WHEN pri0 <= 191 THEN pri0 END AS pri FROM pris)
        SELECT
          pri,
          CAST(floor(pri / 8) AS INT) AS facility,
          CAST(pri % 8 AS INT) AS severity,
          CASE WHEN is5424 AND pri IS NOT NULL
               THEN TRY_CAST(regexp_extract(line, '{r5424}', 2) AS INT) END AS version,
          CASE
            WHEN is5424 AND pri IS NOT NULL
              THEN TRY_CAST(nullif(nullif(regexp_extract(line, '{r5424}', 3), ''), '-') AS TIMESTAMP)
            WHEN is3164 AND pri IS NOT NULL
              THEN strptime('{year} ' || regexp_extract(line, '{r3164}', 2) || ' '
                   || regexp_extract(line, '{r3164}', 3) || ' '
                   || regexp_extract(line, '{r3164}', 4), '%Y %b %-d %H:%M:%S')
          END AS ts,
          CASE
            WHEN is5424 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r5424}', 4), ''), '-')
            WHEN is3164 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r3164}', 5), ''), '-')
          END AS host,
          CASE
            WHEN is5424 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r5424}', 5), ''), '-')
            WHEN is3164 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r3164}', 6), ''), '-')
          END AS app,
          CASE
            WHEN is5424 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r5424}', 6), ''), '-')
            WHEN is3164 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r3164}', 7), ''), '-')
          END AS procid,
          CASE WHEN is5424 AND pri IS NOT NULL
               THEN nullif(nullif(regexp_extract(line, '{r5424}', 7), ''), '-') END AS msgid,
          CASE
            WHEN is5424 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r5424}', 9), ''), '-')
            WHEN is3164 AND pri IS NOT NULL THEN nullif(nullif(regexp_extract(line, '{r3164}', 8), ''), '-')
          END AS msg,
          line AS raw
        FROM p
    """
