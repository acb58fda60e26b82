"""Driver round-trip budget for binding the Zeek projections.

read_zeek's cast pipeline and write_zeek's wire projection are handed
to Spark as parsed SQL text, one call per projection.  Building them
one Column call at a time costs a py4j round trip per expression node
(thousands per bind for a wide log); these tests count the commands
sent to the JVM so that shape cannot come back unnoticed."""

import contextlib
import re
import threading

from py4j.clientserver import ClientServerConnection

from zeek_duckdb_spark import read_zeek
from zeek_duckdb_spark.sources.zeek_writer import format_zeek_lines

# generous: the SQL-text bind sends well under a hundred commands; the
# per-node Column build sent thousands for the same shapes
MAX_COMMANDS = 300

TYPES = ["time", "string", "addr", "port", "addr", "port", "enum", "string",
         "interval", "count", "count", "string", "bool", "bool", "string",
         "count", "count", "count", "count", "set[string]", "vector[interval]",
         "double", "int"]


@contextlib.contextmanager
def count_commands():
    """Count the commands the calling thread sends.  py4j's garbage
    collection thread also sends deletes, asynchronously, for JavaObjects
    that earlier work dropped; they land in the window at random and are
    not round trips of the bind, so they are not counted."""
    counter = {"n": 0}
    send = ClientServerConnection.send_command
    caller = threading.current_thread()

    def counting(self, command):
        if threading.current_thread() is caller:
            counter["n"] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = send


def write_log(path, names, types):
    row = {"time": "1768540789.230929", "string": "s", "addr": "10.0.0.1",
           "port": "443", "enum": "tcp", "interval": "1.500000",
           "count": "7", "bool": "T", "set[string]": "a,b",
           "vector[interval]": "1.000000,2.000000", "double": "0.5",
           "int": "-3"}
    path.write_text(
        "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n"
        "#unset_field\t-\n#path\tconn\n"
        "#fields\t" + "\t".join(names) + "\n"
        "#types\t" + "\t".join(types) + "\n"
        + "\t".join(row[t] for t in types) + "\n"
    )


def test_bind_round_trips_bounded(spark, tmp_path, monkeypatch):
    names = [f"f.{i}" for i in range(len(TYPES))]
    write_log(tmp_path / "conn_a.log", names, TYPES)
    # second schema group: one extra field
    write_log(tmp_path / "conn_b.log", names + ["extra"], TYPES + ["string"])
    glob = str(tmp_path / "conn_*.log")
    read_zeek(spark, glob, union_by_name=True, filename=True)  # warm the JVM paths

    # every projection is SQL text; none of it may use a raw r'...'
    # literal, which misparses under spark.sql.parser.escapedStringLiterals
    texts = []
    frame = type(spark.range(1))
    select_expr = frame.selectExpr
    monkeypatch.setattr(frame, "selectExpr",
                        lambda self, *e: texts.extend(e) or select_expr(self, *e))

    with count_commands() as read_cmds:
        df = read_zeek(spark, glob, union_by_name=True, filename=True)
    assert len(df.columns) == len(TYPES) + 2
    assert read_cmds["n"] <= MAX_COMMANDS, read_cmds

    with count_commands() as write_cmds:
        lines, _ = format_zeek_lines(df)
    assert write_cmds["n"] <= MAX_COMMANDS, write_cmds
    assert lines.count() == 2
    assert texts and not any(re.search(r"\br'", t) for t in texts)
