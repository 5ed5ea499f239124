"""Spark SQL text from Python names and strings.

Operators that build wide expression trees send them to the JVM as SQL
text that Spark parses once, instead of one py4j `Column` call per
expression node (in pyspark 4.1 each `F.*` call sends about thirteen
gateway commands, most of them the call-site bookkeeping pyspark wraps
around it, and each `Column` operator about eleven, so a stats or join
plan of a few hundred nodes costs thousands). A name or
string spliced into that text goes through these helpers, so Spark
reads it back as exactly itself, whatever characters it holds, and no
label can change the rest of the statement. A label handed to the
DataFrame API by name (`select`, `groupBy`, `unpivot`, `F.col`) is
quoted the same way, so Spark reads it as one column name, never as a
path into a struct; a quoted name costs no more py4j round trips than
a bare one.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """`name` as a backtick-quoted identifier (a backtick inside is
    doubled), so a dot, space or quote stays part of the one name."""
    return "`" + name.replace("`", "``") + "`"


def quote_str(text: str) -> str:
    """`text` as a single-quoted string literal, with backslashes and
    quotes escaped by Spark's default (non-legacy) string rules."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"
