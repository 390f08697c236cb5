"""SQL helpers: the statement splitter, and a query over a frame through a
temp view that does not outlive it.

Splitter reference semantics: ``utils/sql_parser_utils.py:9-173``
(hand-written state machine). Splits a DDL file into executable statements
on ``;`` while ignoring semicolons inside single/double quotes, backticks,
line comments (``--``) and block comments (``/* */``).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame


def query_over(df: DataFrame, view: str, query: str) -> DataFrame:
    """``spark.sql(query)`` with ``df`` registered as the temp view ``view``
    while the query is analyzed. The returned frame holds the view's plan,
    not its name, so the view is dropped before returning. The session
    catalog drops it: ``spark.catalog.dropTempView`` would also uncache
    every cache entry with the view's plan, which may be the caller's.
    Runs in ``df``'s own session, which under foreachBatch may not be the
    caller's."""
    spark = df.sparkSession
    df.createOrReplaceTempView(view)
    try:
        return spark.sql(query)
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(view)


def split_sql_statements(sql: str) -> List[str]:
    """Split a SQL script into individual statements."""
    stmts: List[str] = []
    buf: List[str] = []
    i, n = 0, len(sql)
    in_squote = in_dquote = in_btick = in_line = in_block = False
    while i < n:
        ch = sql[i]
        nxt = sql[i + 1] if i + 1 < n else ""
        if in_line:
            if ch == "\n":
                in_line = False
            buf.append(ch)
        elif in_block:
            if ch == "*" and nxt == "/":
                in_block = False
                buf.append("*/")
                i += 1
            else:
                buf.append(ch)
        elif in_squote:
            buf.append(ch)
            if ch == "'" and nxt != "'":
                in_squote = False
            elif ch == "'" and nxt == "'":
                buf.append(nxt)
                i += 1
        elif in_dquote:
            buf.append(ch)
            if ch == '"':
                in_dquote = False
        elif in_btick:
            buf.append(ch)
            if ch == "`":
                in_btick = False
        elif ch == "-" and nxt == "-":
            in_line = True
            buf.append(ch)
        elif ch == "/" and nxt == "*":
            in_block = True
            buf.append("/*")
            i += 1
        elif ch == "'":
            in_squote = True
            buf.append(ch)
        elif ch == '"':
            in_dquote = True
            buf.append(ch)
        elif ch == "`":
            in_btick = True
            buf.append(ch)
        elif ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                stmts.append(stmt)
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        stmts.append(tail)
    return stmts
