"""Seeded input generators for the migration benchmark.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical files, a different seed writes different ones. Inputs are
cached under ``<checkout>/.perfbench_cache/<workload>-<seed>-v<N>/`` and
built outside any timing; the program only ever sees the written files.

- ``dump_pgexport``: a mysqldump-8.0-layout file (multi-line CREATE
  TABLE, extended INSERTs of ~1,000 tuples per line) over ``orders``,
  ``lineitem`` and a string-heavy ``notes`` table, plus one parquet
  "truth" file per table holding the typed source rows the checker
  compares against.
- ``corpus_duckdb``: an INSERT-only dump with type-valid rows for every
  table of the recorded 63-table catalog (``tests/golden/infoschema.json``)
  plus ``expected.json`` with the row count per table. The row counts
  are fixed; the seed draws the values.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator's output changes, so stale caches are not reused
GENERATOR_VERSION = 2

CATALOG_PATH = os.path.join("tests", "golden", "infoschema.json")

DUMP_ROWS = {"orders": 12_000, "lineitem": 30_000, "notes": 2_500}
TUPLES_PER_LINE = 1_000

_WORDS = (
    "alpha beta gamma delta epsilon zeta theta iota kappa lambda omicron "
    "sigma carefully quickly final pending regular express special ironic "
    "furious bold silent unusual packages deposits accounts requests "
    "instructions theodolites pinto beans foxes ideas dependencies"
).split()
#: string fragments that stress quoting and encoding in every text path
_SPECIAL = (
    "O'Brien", 'say "hi"', "back\\slash", "tab\there", "line\nbreak",
    "naïve café", "Straße", "日本語テキスト", "emoji ✓", "50% off_",
    "semi;colon", "paren(s)", "comma, here",
)


def cache_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(
        root, ".perfbench_cache", f"{workload}-{seed}-v{GENERATOR_VERSION}"
    )


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Generate (once) and return the input directory for a workload."""
    out = cache_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, root)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# ---------------------------------------------------------------------------
# dump_pgexport
# ---------------------------------------------------------------------------

#: mysqldump literal escapes (mysql_real_escape_string's set)
_MYSQL_ESC = {
    "\\": "\\\\", "'": "\\'", '"': '\\"', "\n": "\\n", "\r": "\\r",
    "\x00": "\\0", "\x1a": "\\Z",
}
_MYSQL_ESC_RE = re.compile(r"[\\'\"\n\r\x00\x1a]")


def mysql_literal(s: str) -> str:
    return "'" + _MYSQL_ESC_RE.sub(lambda m: _MYSQL_ESC[m.group()], s) + "'"


DUMP_DDL = {
    "orders": (
        ("o_orderkey", "bigint NOT NULL", pa.int64()),
        ("o_custkey", "bigint NOT NULL", pa.int64()),
        ("o_orderstatus", "char(1) NOT NULL", pa.string()),
        ("o_totalprice", "decimal(15,2) NOT NULL", pa.decimal128(15, 2)),
        ("o_orderdate", "date NOT NULL", pa.date32()),
        ("o_orderpriority", "varchar(15) NOT NULL", pa.string()),
        ("o_comment", "varchar(79) DEFAULT NULL", pa.string()),
    ),
    "lineitem": (
        ("l_orderkey", "bigint NOT NULL", pa.int64()),
        ("l_linenumber", "int NOT NULL", pa.int32()),
        ("l_partkey", "bigint NOT NULL", pa.int64()),
        ("l_quantity", "decimal(15,2) NOT NULL", pa.decimal128(15, 2)),
        ("l_extendedprice", "decimal(15,2) NOT NULL", pa.decimal128(15, 2)),
        ("l_discount", "decimal(15,2) NOT NULL", pa.decimal128(15, 2)),
        ("l_returnflag", "char(1) NOT NULL", pa.string()),
        ("l_shipdate", "date NOT NULL", pa.date32()),
        ("l_comment", "varchar(44) DEFAULT NULL", pa.string()),
    ),
    "notes": (
        ("note_id", "int NOT NULL AUTO_INCREMENT", pa.int32()),
        ("title", "varchar(200) NOT NULL", pa.string()),
        ("body", "text", pa.string()),
        ("author", "varchar(64) DEFAULT NULL", pa.string()),
        ("created", "datetime DEFAULT NULL", pa.timestamp("us")),
    ),
}
DUMP_PK = {"orders": "o_orderkey", "lineitem": "l_orderkey`,`l_linenumber",
           "notes": "note_id"}


def _maybe_special(rng: random.Random, base: str, p: float) -> str:
    return f"{base} {rng.choice(_SPECIAL)}" if rng.random() < p else base


def dump_rows(seed: int) -> dict[str, list[tuple]]:
    """Typed source rows of the dump workload (Python values, None =
    NULL), each within its column's declared type and length. Decimals
    are ``int`` cents, rendered with two places."""
    rng = random.Random(seed)
    w = _WORDS
    rows: dict[str, list[tuple]] = {}
    base = dt.date(1992, 1, 1)
    n_o = DUMP_ROWS["orders"]
    rows["orders"] = [
        (
            k * 4, rng.randint(1, 15_000), rng.choice("FOP"),
            rng.randint(0, 50_000_000),
            base + dt.timedelta(days=rng.randint(0, 2400)),
            rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW")),
            None if rng.random() < 0.1 else _maybe_special(
                rng, " ".join(rng.choices(w, k=rng.randint(2, 6))), 0.15
            )[:79],
        )
        for k in range(1, n_o + 1)
    ]
    li = []
    # (orderkey, linenumber) is the primary key: number lines per order
    next_line: dict[int, int] = {}
    while len(li) < DUMP_ROWS["lineitem"]:
        ok = rng.randint(1, n_o) * 4
        for _ in range(rng.randint(1, 7)):
            ln = next_line[ok] = next_line.get(ok, 0) + 1
            li.append((
                ok, ln, rng.randint(1, 20_000), rng.randint(100, 5_000),
                rng.randint(0, 10_000_000), rng.randint(0, 10),
                rng.choice("ANR"),
                base + dt.timedelta(days=rng.randint(0, 2500)),
                None if rng.random() < 0.1 else _maybe_special(
                    rng, " ".join(rng.choices(w, k=rng.randint(1, 4))), 0.1
                )[:44],
            ))
    rows["lineitem"] = li[: DUMP_ROWS["lineitem"]]
    t0 = dt.datetime(2020, 1, 1)
    rows["notes"] = [
        (
            k,
            _maybe_special(rng, " ".join(rng.choices(w, k=rng.randint(2, 8))),
                           0.5),
            None if rng.random() < 0.15 else "\n".join(
                _maybe_special(
                    rng, " ".join(rng.choices(w, k=rng.randint(5, 25))), 0.4)
                for _ in range(rng.randint(1, 4))
            ),
            None if rng.random() < 0.2 else rng.choice(
                ("anna", "bjørn", "chloé", "dmitri", "eiji 栄治", "o'neil")),
            None if rng.random() < 0.1 else t0 + dt.timedelta(
                seconds=rng.randint(0, 90_000_000)),
        )
        for k in range(1, DUMP_ROWS["notes"] + 1)
    ]
    return rows


def _render_value(v, mysql_type: str) -> str:
    if v is None:
        return "NULL"
    if mysql_type.startswith("decimal"):
        sign = "-" if v < 0 else ""
        return f"{sign}{abs(v) // 100}.{abs(v) % 100:02d}"
    if isinstance(v, dt.datetime):
        return "'" + v.isoformat(sep=" ") + "'"
    if isinstance(v, dt.date):
        return "'" + v.isoformat() + "'"
    if isinstance(v, str):
        return mysql_literal(v)
    return str(v)


def render_dump(rows: dict[str, list[tuple]]) -> str:
    """mysqldump 8.0 layout: header, per table DROP + multi-line CREATE
    + LOCK/DISABLE KEYS + extended INSERT lines + UNLOCK, footer."""
    out = [
        "-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n--\n"
        "-- Host: localhost    Database: shop\n"
        "-- ------------------------------------------------------\n"
        "-- Server version\t8.0.36\n\n"
        "/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;\n"
        "/*!50503 SET NAMES utf8mb4 */;\n"
        "/*!40103 SET @OLD_TIME_ZONE=@@TIME_ZONE */;\n"
        "/*!40103 SET TIME_ZONE='+00:00' */;\n"
        "/*!40014 SET @OLD_UNIQUE_CHECKS=@@UNIQUE_CHECKS, UNIQUE_CHECKS=0 */;\n"
    ]
    for table, cols in DUMP_DDL.items():
        types = [c[1].split()[0] for c in cols]
        body = ",\n".join(f"  `{c[0]}` {c[1]}" for c in cols)
        out.append(
            f"\n--\n-- Table structure for table `{table}`\n--\n\n"
            f"DROP TABLE IF EXISTS `{table}`;\n"
            "/*!40101 SET @saved_cs_client     = @@character_set_client */;\n"
            "/*!50503 SET character_set_client = utf8mb4 */;\n"
            f"CREATE TABLE `{table}` (\n{body},\n"
            f"  PRIMARY KEY (`{DUMP_PK[table]}`)\n"
            ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 "
            "COLLATE=utf8mb4_0900_ai_ci;\n"
            "/*!40101 SET character_set_client = @saved_cs_client */;\n\n"
            f"--\n-- Dumping data for table `{table}`\n--\n\n"
            f"LOCK TABLES `{table}` WRITE;\n"
            f"/*!40000 ALTER TABLE `{table}` DISABLE KEYS */;\n"
        )
        data = rows[table]
        for i in range(0, len(data), TUPLES_PER_LINE):
            tuples = ",".join(
                "(" + ",".join(
                    _render_value(v, ty) for v, ty in zip(r, types)
                ) + ")"
                for r in data[i:i + TUPLES_PER_LINE]
            )
            out.append(f"INSERT INTO `{table}` VALUES {tuples};\n")
        out.append(
            f"/*!40000 ALTER TABLE `{table}` ENABLE KEYS */;\n"
            "UNLOCK TABLES;\n"
        )
    out.append(
        "/*!40103 SET TIME_ZONE=@OLD_TIME_ZONE */;\n"
        "/*!40014 SET UNIQUE_CHECKS=@OLD_UNIQUE_CHECKS */;\n\n"
        "-- Dump completed\n"
    )
    return "".join(out)


def truth_table(table: str, data: list[tuple]) -> pa.Table:
    """Typed source rows as arrow (decimal cents → Decimal)."""
    import decimal

    cols = DUMP_DDL[table]
    arrays = {}
    for j, (name, mysql, ty) in enumerate(cols):
        vals = [r[j] for r in data]
        if pa.types.is_decimal(ty):
            vals = [None if v is None else decimal.Decimal(v).scaleb(-2)
                    for v in vals]
        arrays[name] = pa.array(vals, type=ty)
    return pa.table(arrays)


def _gen_dump(out: str, seed: int, root: str) -> None:
    rows = dump_rows(seed)
    with open(os.path.join(out, "dump.sql"), "w", encoding="utf-8") as fh:
        fh.write(render_dump(rows))
    for table, data in rows.items():
        pq.write_table(truth_table(table, data),
                       os.path.join(out, f"truth_{table}.parquet"))


# ---------------------------------------------------------------------------
# corpus_duckdb
# ---------------------------------------------------------------------------

_INT_RANGE = {
    "tinyint": (-128, 127), "smallint": (-32768, 32767),
    "mediumint": (-8388608, 8388607), "int": (-2**31, 2**31 - 1),
    "integer": (-2**31, 2**31 - 1), "bigint": (-2**63, 2**63 - 1),
}
_SPATIAL = ("geometry", "point", "linestring", "polygon", "multipoint",
            "multilinestring", "multipolygon", "geometrycollection")
#: per-table value rules the catalog implies (partition bounds, CHECK
#: constraints, the one foreign key): (table, column) → value factory
_CORPUS_RULES = {
    ("case_16_partition", "created_at"): lambda r, i: "'%d-%02d-%02d 10:00:00'"
    % (r.choice((2019, 2020)), r.randint(1, 12), r.randint(1, 28)),
    ("case_49_list_partition", "category"): lambda r, i: str(r.randint(1, 6)),
    ("case_58_subpartition", "year"): lambda r, i: str(r.choice((2020, 2021))),
    ("case_58_subpartition", "month"): lambda r, i: str(r.randint(1, 12)),
    ("case_27_mysql8_check", "age"): lambda r, i: str(r.randint(19, 149)),
    ("case_41_foreign_key", "parent_id"): lambda r, i: str(r.randint(1, 32)),
}
#: rows per corpus table (fixed, so rows/s moves only with time)
CORPUS_ROWS = 32


def _point(r: random.Random) -> bytes:
    return struct.pack("<dd", r.randint(-180, 180) + 0.5,
                       r.randint(-90, 90) + 0.25)


def wkb(kind: str, r: random.Random) -> bytes:
    """WKB (little-endian) for one value of a MySQL spatial type."""
    def ring(n):
        pts = [_point(r) for _ in range(n - 1)]
        return struct.pack("<I", n) + b"".join(pts + pts[:1])

    def line(n):
        return struct.pack("<I", n) + b"".join(_point(r) for _ in range(n))

    def g(code, body):
        return struct.pack("<BI", 1, code) + body

    if kind in ("point", "geometry"):
        return g(1, _point(r))
    if kind == "linestring":
        return g(2, line(3))
    if kind == "polygon":
        return g(3, struct.pack("<I", 1) + ring(4))
    if kind == "multipoint":
        return g(4, struct.pack("<I", 2) + g(1, _point(r)) + g(1, _point(r)))
    if kind == "multilinestring":
        return g(5, struct.pack("<I", 2) + g(2, line(2)) + g(2, line(3)))
    if kind == "multipolygon":
        return g(6, struct.pack("<I", 1) + g(3, struct.pack("<I", 1) + ring(4)))
    return g(7, struct.pack("<I", 2) + g(1, _point(r)) + g(2, line(2)))


def _members(column_type: str) -> list[str]:
    inner = column_type[column_type.index("(") + 1: column_type.rindex(")")]
    return [m.strip().strip("'") for m in inner.split(",")]


def _text(r: random.Random, limit: int) -> str:
    s = " ".join(r.choices(_WORDS, k=r.randint(1, 4)))
    if r.random() < 0.4:
        s = f"{r.choice(_SPECIAL)} {s}"
    s = s[:limit].rstrip()
    return s or "x"


def corpus_value(column_type: str, r: random.Random, i: int,
                 unique: bool, small: bool = False) -> str:
    """One MySQL literal valid for ``column_type`` (row ``i``; unique
    columns draw from the row number). ``small`` keeps numbers near zero,
    for tables whose generated columns compute on them."""
    ct = re.sub(r"\s+", " ", column_type.lower().strip())
    base = re.match(r"[a-z]+", ct).group()
    size = re.search(r"\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)", ct)
    n = int(size.group(1)) if size else None
    unsigned = "unsigned" in ct
    if base in ("boolean", "bool") or re.match(r"tinyint\s*\(\s*1\s*\)", ct):
        return str(r.randint(0, 1))
    if base in _INT_RANGE:
        lo, hi = _INT_RANGE[base]
        if unsigned:
            lo, hi = 0, hi
        if unique:
            return str(i + 1)
        near = r.randint(max(lo, -1000), min(hi, 1000))
        return str(near if small else r.choice((lo, hi, 0, near)))
    if base in ("decimal", "numeric"):
        p = n or 10
        s = int(size.group(2) or 0) if size else 0
        digits = min(p - s, 3) if small else p - s
        whole = r.randint(-(10 ** digits - 1), 10 ** digits - 1)
        frac = r.randint(0, 10 ** s - 1) if s else 0
        sign = "-" if whole < 0 else ""
        return f"{sign}{abs(whole)}" + (f".{frac:0{s}d}" if s else "")
    if base in ("float", "double", "real"):
        return str(r.randint(-5000, 5000) / 4)
    if base == "year":
        return str(r.randint(1901, 2155))
    if base == "date":
        return "'%04d-%02d-%02d'" % (r.randint(1000, 9999), r.randint(1, 12),
                                     r.randint(1, 28))
    if base in ("datetime", "timestamp"):
        y = r.randint(1971, 2037) if base == "timestamp" else r.randint(1000, 9999)
        frac = ""
        if n:
            frac = "." + "".join(str(r.randint(0, 9)) for _ in range(n))
        return "'%04d-%02d-%02d %02d:%02d:%02d%s'" % (
            y, r.randint(1, 12), r.randint(1, 28), r.randint(0, 23),
            r.randint(0, 59), r.randint(0, 59), frac)
    if base == "time":
        frac = ("." + "".join(str(r.randint(0, 9)) for _ in range(n))) if n else ""
        return "'%02d:%02d:%02d%s'" % (r.randint(0, 23), r.randint(0, 59),
                                       r.randint(0, 59), frac)
    if base == "enum":
        return mysql_literal(r.choice(_members(ct)))
    if base == "set":
        ms = _members(column_type)
        picked = [m for m in ms if r.random() < 0.5]
        return mysql_literal(",".join(picked))
    if base == "json":
        return mysql_literal(json.dumps({
            "id": i, "tag": r.choice(_WORDS), "vals": [r.randint(0, 9)] * 2,
            "note": r.choice(_SPECIAL), "ok": r.random() < 0.5,
        }, ensure_ascii=False))
    if base in _SPATIAL:
        return "0x" + (b"\x00\x00\x00\x00" + wkb(base, r)).hex()
    if base == "binary":
        return "0x" + bytes(r.randrange(256) for _ in range(n or 1)).hex()
    if base == "varbinary" or base.endswith("blob"):
        k = r.randint(1, min(n or 48, 48))
        return "0x" + bytes(r.randrange(256) for _ in range(k)).hex()
    if base in ("char", "varchar"):
        limit = n if n is not None else 1
        if unique:
            s = f"u{i}"
            return mysql_literal(s[-limit:])
        return mysql_literal(_text(r, limit))
    if base.endswith("text"):
        return mysql_literal("\n".join(_text(r, 200) for _ in range(2)))
    raise ValueError(f"no generator for MySQL type {column_type!r}")


def corpus_catalog(root: str) -> dict:
    with open(os.path.join(root, CATALOG_PATH), encoding="utf-8") as fh:
        return json.load(fh)


def corpus_dump(catalog: dict, seed: int) -> tuple[str, dict[str, int]]:
    """INSERT-only dump text + expected row count per table."""
    r = random.Random(seed)
    cols_by_table: dict[str, list[dict]] = {}
    for row in sorted(catalog["columns"],
                      key=lambda x: (x["table_name"], x["ordinal_position"])):
        cols_by_table.setdefault(row["table_name"], []).append(row)
    unique_cols = {
        (x["table_name"], x["column_name"]) for x in catalog["statistics"]
        if x["non_unique"] in (0, "0") and x["column_name"]
    } | {(x["table_name"], x["column_name"])
         for x in catalog["key_column_usage_pk"]}
    parts, expected = [], {}
    for t in sorted(x["table_name"] for x in catalog["tables"]):
        cols = [c for c in cols_by_table[t]
                if "GENERATED" not in (c["extra"] or "").upper()
                or "DEFAULT_GENERATED" in (c["extra"] or "").upper()]
        n = CORPUS_ROWS
        small = len(cols) != len(cols_by_table[t])
        tuples = []
        for i in range(n):
            vals = []
            for c in cols:
                key = (t, c["column_name"])
                uniq = key in unique_cols or c["column_name"].lower() == "id"
                if key in _CORPUS_RULES:
                    v = _CORPUS_RULES[key](r, i)
                elif (c["is_nullable"] == "YES" and not uniq
                      and r.random() < 0.1):
                    v = "NULL"
                else:
                    v = corpus_value(c["column_type"], r, i, uniq, small)
                vals.append(v)
            tuples.append("(" + ",".join(vals) + ")")
        collist = ""
        if len(cols) != len(cols_by_table[t]):
            collist = " (" + ",".join(f"`{c['column_name']}`"
                                      for c in cols) + ")"
        parts.append(f"LOCK TABLES `{t}` WRITE;\n"
                     f"INSERT INTO `{t}`{collist} VALUES "
                     + ",".join(tuples) + ";\nUNLOCK TABLES;\n")
        expected[t] = n
    head = ("-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n"
            "/*!40101 SET NAMES utf8mb4 */;\n")
    return head + "".join(parts), expected


def _gen_corpus(out: str, seed: int, root: str) -> None:
    text, expected = corpus_dump(corpus_catalog(root), seed)
    with open(os.path.join(out, "corpus.sql"), "w", encoding="utf-8") as fh:
        fh.write(text)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)


GENERATORS = {
    "dump_pgexport": _gen_dump,
    "corpus_duckdb": _gen_corpus,
}
