"""Python Data Source API connector (PySpark 4): the odds REST feed as a
first-class ``spark.read.format("odds_rest")`` source.

The reference ingests odds by GETting two REST regions and flattening the
4-level JSON in a driver-side loop (src/data_clients/odds/get_odds.py:14-59).
Here the same feed is a registered Spark data source: each API payload
(one JSON array per response) is an input partition, so responses flatten
in parallel on executors, and EqualTo/In predicates on the low-cardinality
columns push down into the Python reader — a partition skips non-matching
games before they ever reach the JVM.

Transport is a payload directory (one ``*.json`` file per API response) —
the offline twin of the HTTP GET; a deployment replaces ``_load_payload``
with the authenticated GET of get_odds.py:14-39. No network code lives here.

Output contract: ``rest_json.ODDS_FLAT``, the flat 9-column odds schema
asserted by the reference's tests (test/test_odds_collector.py:170-172),
with the ``point`` null-fill of get_odds.py:61 applied at read time.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, EqualTo, Filter, In,
                                    InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)

from .rest_json import ODDS_FLAT

_PUSHABLE = ("game_id", "book", "market", "outcome")


class _PayloadPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class OddsRestReader(DataSourceReader):
    def __init__(self, options):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("odds_rest requires .option('path', <payload dir>)")
        # column -> set of accepted values (conjunction across filters)
        self._accept: dict[str, set] = {}

    def pushFilters(self, filters: Sequence[Filter]) -> Iterator[Filter]:
        rejected = []
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col in _PUSHABLE and isinstance(f, (EqualTo, In)):
                vals = set(f.value) if isinstance(f, In) else {f.value}
                prev = self._accept.get(col)
                self._accept[col] = vals if prev is None else prev & vals
            else:
                rejected.append(f)
        return iter(rejected)

    def partitions(self) -> list[InputPartition]:
        paths = sorted(glob.glob(os.path.join(self._dir, "*.json")))
        if not paths:
            raise FileNotFoundError(f"no *.json payloads under {self._dir}")
        return [_PayloadPartition(p) for p in paths]

    def read(self, partition: _PayloadPartition) -> Iterator[tuple]:
        return _flatten_games(_load_payload(partition.path), self._accept)


def _load_payload(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _flatten_games(games, accept: dict[str, set] | None = None
                   ) -> Iterator[tuple]:
    """The one odds flattener: game -> bookmakers -> markets -> outcomes,
    one ODDS_FLAT row per outcome with the ``point`` null-fill of
    get_odds.py:61. ``accept`` maps a pushed column to its accepted values
    (None: accept everything); a rejected game, book or market is skipped
    before the loop descends into it. A non-integral price raises: Spark
    would silently truncate it into the long ``price`` field."""
    games_ok, books_ok, markets_ok, outcomes_ok = (
        (accept or {}).get(c) for c in _PUSHABLE)
    for game in games:
        gid = game.get("id")
        if games_ok is not None and gid not in games_ok:
            continue
        base = (gid, game.get("commence_time"),
                game.get("home_team"), game.get("away_team"))
        for bk in game.get("bookmakers") or []:
            book = bk.get("key")
            if books_ok is not None and book not in books_ok:
                continue
            for mk in bk.get("markets") or []:
                market = mk.get("key")
                if markets_ok is not None and market not in markets_ok:
                    continue
                for oc in mk.get("outcomes") or []:
                    name = oc.get("name")
                    if outcomes_ok is not None and name not in outcomes_ok:
                        continue
                    price, point = oc.get("price"), oc.get("point")
                    if price is not None:
                        if price != int(price):
                            raise ValueError(
                                f"odds price {price!r} is not a whole "
                                f"number (game {gid}, book {book})")
                        price = int(price)
                    yield (*base, book, market, name, price,
                           0.0 if point is None else float(point))


class OddsRestStreamReader(SimpleDataSourceStreamReader):
    """Incremental twin of OddsRestReader: the payload directory is an
    append-only feed (the reference collects odds "multiple times per day",
    README.md:173-175); the stream offset is the count of consumed payload
    files in sorted order, so each microbatch flattens only NEW responses
    and `readBetweenOffsets` replays deterministically on recovery —
    exactly-once into any checkpointed sink, replacing the reference's
    manual read-merge-dedup idempotency loop."""

    def __init__(self, options):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError(
                "odds_rest stream requires .option('path', <payload dir>)")

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self._dir, "*.json")))

    def initialOffset(self) -> dict:
        return {"index": 0}

    @staticmethod
    def _rows(files: list[str]) -> Iterator[tuple]:
        return _flatten_games(game for p in files for game in _load_payload(p))

    def read(self, start: dict):
        files = self._files()
        rows = list(self._rows(files[start["index"]:]))
        return iter(rows), {"index": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(self._files()[start["index"]:end["index"]])


class OddsRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "odds_rest"

    def schema(self):
        return ODDS_FLAT

    def reader(self, schema) -> OddsRestReader:
        return OddsRestReader(self.options)

    def simpleStreamReader(self, schema) -> OddsRestStreamReader:
        return OddsRestStreamReader(self.options)


def register_odds_source(spark) -> None:
    """Make ``spark.read.format('odds_rest')`` available on this session.

    Also flips on Python-side filter pushdown (off by default): the reader
    declares pushFilters, and Spark refuses such a reader outright when the
    flag is disabled — a caller-supplied vanilla session would otherwise
    fail on first read."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OddsRestDataSource)


# ---------------------------------------------------------------------------
# Python Data Source WRITER: a jsonl directory sink
# ---------------------------------------------------------------------------

class _JsonlCommit(WriterCommitMessage):
    """Per-task commit message: (file written, rows in it) — picklable,
    shipped executor -> driver."""

    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class JsonlDirWriter(DataSourceWriter):
    """DataSourceWriter half of the sink: ``write(iterator)`` runs once
    per input partition ON AN EXECUTOR and appends nothing — each task
    owns a fresh uuid-named file, so concurrent tasks (and task retries,
    which get a new uuid) never collide; ``commit(messages)`` runs on the
    driver after ALL tasks succeed and publishes the _manifest.json (the
    underscore prefix hides it from Spark's own readers), making the
    write all-or-nothing at the manifest level the way a table format's
    commit log is. Rows serialize via json.dumps of the row dict —
    float repr round-trips doubles exactly. At scale the directory is an
    object-store prefix; the local path works because local[*] shares
    one filesystem."""

    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_dir sink requires .option('path', ...)")

    def write(self, iterator):
        import json as _json
        import os as _os
        import uuid as _uuid
        fname = _os.path.join(self.path,
                              f"part-{_uuid.uuid4().hex}.jsonl")
        rows = 0
        with open(fname, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
                rows += 1
        return _JsonlCommit(fname, rows)

    def commit(self, messages) -> None:
        import json as _json
        import os as _os
        manifest = {
            "files": [{"path": _os.path.basename(m.path), "rows": m.rows}
                      for m in messages],
            "total_rows": sum(m.rows for m in messages),
        }
        with open(_os.path.join(self.path, "_manifest.json"), "w") as f:
            _json.dump(manifest, f)

    def abort(self, messages) -> None:
        import os as _os
        for m in messages:
            if m is not None and _os.path.exists(m.path):
                _os.remove(m.path)


class JsonlDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def writer(self, schema, overwrite: bool) -> JsonlDirWriter:
        return JsonlDirWriter(self.options, schema)


def register_jsonl_sink(spark) -> None:
    """Make ``df.write.format('jsonl_dir')`` available on this session."""
    spark.dataSource.register(JsonlDirDataSource)
