#!/usr/bin/env python3
"""Seeded input generator for the DDL-migration benchmark.

    python3 ddlbench/gen.py <workload> <seed> <out_dir>

Writes the inputs of one workload into <out_dir> plus `manifest.json`,
the generator's own record of what it wrote (per table: name, column
count, ALTER/DISTRIBUTE targets; for migrate_cdc: the change rounds).
The output checks compare the engine's results against that record; the
engine itself only ever sees the generated files. The same seed always
yields the same bytes (see test_gen.py).

Workloads:
  ddl_corpus    thousands of small DB2 scripts (1-8 tables each, mixed
                types, some ALTER/DISTRIBUTE) and a smaller set of
                Snowflake scripts
  giant_script  one db2look-shaped script with thousands of tables, each
                followed by ALTER TABLE ... ADD CONSTRAINT ... PRIMARY KEY,
                plus standalone DISTRIBUTE statements
  migrate_cdc   lineitem/orders-shaped parquet sources, the DB2 DDL that
                types them, and the change batches of each CDC round
"""
import json
import os
import random
import sys

# ---------------------------------------------------------------- sizes

DB2_SCRIPTS = 1000        # ddl_corpus: DB2 scripts
SF_SCRIPTS = 300          # ddl_corpus: Snowflake scripts
GIANT_TABLES = 3000       # giant_script: tables (one ALTER ... PRIMARY KEY each)
GIANT_DISTRIBUTES = 8     # giant_script: standalone DISTRIBUTE statements
ORDERS = 20000            # migrate_cdc: orders rows (lineitem has 1-7 per order)
CDC_ROUNDS = 2            # migrate_cdc: change rounds per pass
UPSERT_SHARE = 0.02       # of the source lineitem rows, per round
APPEND_ORDERS = 400       # new orders appended per round (with their lines)
DELETE_MODULUS = 53       # round r deletes l_orderkey % 53 = r

# ---------------------------------------------------- DB2 script corpus
# Ported from tools/diff_fuzz.py (`script`, `sf_script`). Two changes keep
# every table countable: comments carry no apostrophe (the splitter, like
# the reference it mirrors, toggles string state on an apostrophe inside a
# `--` comment and merges the statements around it), and ALTER statements
# name tables the script really creates.

TYPES = ["SMALLINT", "INTEGER", "INT", "BIGINT", "DECIMAL", "NUMERIC", "REAL",
         "FLOAT", "DOUBLE", "DECFLOAT", "CHAR", "CHARACTER", "VARCHAR",
         "LONG VARCHAR", "CLOB", "GRAPHIC", "VARGRAPHIC", "LONG VARGRAPHIC",
         "DBCLOB", "BINARY", "VARBINARY", "BLOB", "DATE", "TIME", "TIMESTAMP",
         "XML", "ROWID", "BOOLEAN"]
WORDS = ["ORDER", "data", "Value_1", "col", "ITEM", "x9", "Select", "amount",
         "ts_col", "flag"]


def ident(rng):
    base = rng.choice(WORDS) + str(rng.randint(0, 99))
    return f'"{base}"' if rng.random() < 0.15 else base


def column(rng):
    t = rng.choice(TYPES)
    params = ""
    if t in ("DECIMAL", "NUMERIC") and rng.random() < 0.8:
        params = f"({rng.randint(1, 45)},{rng.randint(0, 12)})"
    elif t in ("CHAR", "CHARACTER", "VARCHAR", "CLOB", "BLOB", "BINARY",
               "VARBINARY", "GRAPHIC", "VARGRAPHIC", "DBCLOB") and rng.random() < 0.7:
        params = f"({rng.randint(1, 300000000)})"
    elif t in ("TIME", "TIMESTAMP", "FLOAT", "DECFLOAT") and rng.random() < 0.6:
        params = f"({rng.randint(0, 14)})"
    parts = [ident(rng), t + params]
    if rng.random() < 0.3:
        parts.append("NOT NULL")
    if rng.random() < 0.2:
        parts.append("DEFAULT " + rng.choice(["0", "1", "'abc'", "CURRENT_TIMESTAMP", "'it''s'"]))
    if rng.random() < 0.1:
        parts.append("GENERATED ALWAYS AS IDENTITY")
    if rng.random() < 0.08:
        parts.append("FOR BIT DATA")
    if rng.random() < 0.08:
        parts.append("FIELDPROC PROC" + str(rng.randint(1, 9)))
    if rng.random() < 0.08:
        parts.append("CCSID UNICODE")
    return " ".join(parts), t


def table(rng, idx):
    schema = rng.choice(["S1", "APP", "Sales", None])
    name = f"T{idx}_" + rng.choice(["A", "B", "ORD", "data"])
    mod = rng.choice(["", "", "", "VOLATILE ", "GLOBAL TEMPORARY "])
    cols = [column(rng) for _ in range(rng.randint(1, 8))]
    cons = []
    has_pk = rng.random() < 0.5
    if has_pk:
        cons.append(f"PRIMARY KEY ({ident(rng)})")
    if rng.random() < 0.25:
        cons.append(f"CONSTRAINT FK{idx} FOREIGN KEY (C1) REFERENCES OTHER.T(C2)")
    if rng.random() < 0.2:
        cons.append(f"UNIQUE ({ident(rng)})")
    if rng.random() < 0.15:
        cons.append("CHECK (X > 0 AND Y < 10)")
    body = ",\n  ".join([c for c, _ in cols] + cons)
    opts = ""
    if rng.random() < 0.2:
        opts += " IN TS" + str(rng.randint(1, 5))
    if rng.random() < 0.1:
        opts += " EDITPROC EDP1"
    if rng.random() < 0.1:
        opts += " VALIDPROC VLP1"
    if rng.random() < 0.15:
        opts += f" PARTITION BY {rng.choice(['RANGE', 'HASH'])} (C1, C2)"
    if rng.random() < 0.1:
        opts += " AUDIT CHANGES CCSID EBCDIC"
    comment = "-- generated table comment\n" if rng.random() < 0.2 else ""
    fullname = f"{schema}.{name}" if schema else name
    declare = not mod and rng.random() < 0.08
    decl = "DECLARE GLOBAL TEMPORARY TABLE" if declare else f"CREATE {mod}TABLE"
    term = rng.choice([";", "@", ";"])
    rec = {"name": fullname, "columns": len(cols),
           "xml_columns": sum(1 for _, t in cols if t == "XML"),
           "temporary": bool(mod) or declare, "first_column": cols[0][0].split()[0]}
    return f"{comment}{decl} {fullname} (\n  {body}\n){opts}{term}\n", rec


def script(rng, tables_max=8):
    pairs = [table(rng, i) for i in range(rng.randint(1, tables_max))]
    parts = [p for p, _ in pairs]
    recs = [r for _, r in pairs]
    alter_pk = []
    if rng.random() < 0.4:
        target = rng.randrange(len(recs))
        rec = recs[target]
        parts.append(f"ALTER TABLE {rec['name']} ADD CONSTRAINT PKX{target} "
                     f"PRIMARY KEY ({rec['first_column']});\n")
        alter_pk.append(target)
    if rng.random() < 0.3:
        parts.append("ALTER TABLE NO_SUCH_TABLE PARTITION BY RANGE (D);\n")
    distribute = None
    if rng.random() < 0.3:
        parts.append("DISTRIBUTE BY HASH (C1);\n")
        distribute = "C1"
    for r in recs:
        del r["first_column"]
    return "\n".join(parts), {"tables": recs, "alter_pk": alter_pk,
                              "distribute": distribute}


SF_TYPES = ["NUMBER(38,0)", "NUMBER(10,2)", "VARCHAR(100)", "VARCHAR",
            "VARIANT", "OBJECT", "ARRAY", "GEOGRAPHY", "GEOMETRY", "FLOAT",
            "BOOLEAN", "DATE", "TIME", "TIME(3)", "TIMESTAMP", "TIMESTAMP(9)",
            "TIMESTAMP_NTZ", "TIMESTAMP_NTZ(6)", "TIMESTAMP_LTZ(2)",
            "TIMESTAMP_TZ", "DATETIME", "BINARY(16)"]


def sf_column(rng):
    parts = [ident(rng), rng.choice(SF_TYPES)]
    if rng.random() < 0.3:
        parts.append("NOT NULL")
    if rng.random() < 0.15:
        parts.append(rng.choice(["AUTOINCREMENT", "IDENTITY(5,1)", "IDENTITY"]))
    if rng.random() < 0.2:
        parts.append("DEFAULT " + rng.choice(["0", "CURRENT_TIMESTAMP()", "'x'"]))
    if rng.random() < 0.1:
        parts.append("COMMENT 'a col comment'")
    if rng.random() < 0.08:
        parts.append("COLLATE 'en-ci'")
    if rng.random() < 0.08:
        parts.append("WITH MASKING POLICY mp1")
    return " ".join(parts)


def sf_table(rng, idx):
    mod = rng.choice(["", "", "", "TRANSIENT ", "TEMPORARY ", "DYNAMIC ",
                      "EXTERNAL ", "HYBRID "])
    orr = "OR REPLACE " if rng.random() < 0.5 else ""
    ine = "IF NOT EXISTS " if rng.random() < 0.2 else ""
    name = ".".join(filter(None, [
        rng.choice(["DB1", None]) if rng.random() < 0.3 else None,
        rng.choice(["ANALYTICS", "stg", None]),
        f"SF{idx}_" + rng.choice(["A", "Fact", "dim"])]))
    ncols = rng.randint(1, 7)
    cols = [sf_column(rng) for _ in range(ncols)]
    cons = []
    if rng.random() < 0.4:
        cons.append(f"PRIMARY KEY ({ident(rng)})")
    if rng.random() < 0.2:
        cons.append(f"CONSTRAINT FK{idx} FOREIGN KEY (C1) REFERENCES OTHER.T (C2)")
    if rng.random() < 0.2:
        cons.append(f"UNIQUE ({ident(rng)}, {ident(rng)})")
    body = ",\n  ".join(cols + cons)
    opts = ""
    if rng.random() < 0.3:
        opts += f"\nCLUSTER BY ({ident(rng)}, {ident(rng)})"
    if rng.random() < 0.2:
        opts += "\nDATA_RETENTION_TIME_IN_DAYS = " + str(rng.randint(0, 90))
    if rng.random() < 0.2:
        opts += "\nCHANGE_TRACKING = " + rng.choice(["TRUE", "FALSE"])
    if rng.random() < 0.2:
        opts += "\nCOMMENT = 'a table comment'"
    return (f"CREATE {orr}{mod}TABLE {ine}{name} (\n  {body}\n){opts};\n",
            {"name": name, "columns": ncols})


def sf_script(rng):
    pairs = [sf_table(rng, i) for i in range(rng.randint(1, 4))]
    return "\n".join(p for p, _ in pairs), {"tables": [r for _, r in pairs]}


def write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def gen_corpus(rng, out):
    os.makedirs(os.path.join(out, "db2"))
    os.makedirs(os.path.join(out, "sf"))
    db2, sf = {}, {}
    for i in range(DB2_SCRIPTS):
        name = f"s{i:05d}.sql"
        text, rec = script(rng)
        write(os.path.join(out, "db2", name), text)
        rec["bytes"] = len(text.encode("utf-8"))
        db2[name] = rec
    for i in range(SF_SCRIPTS):
        name = f"f{i:05d}.sql"
        text, rec = sf_script(rng)
        write(os.path.join(out, "sf", name), text)
        sf[name] = rec
    return {"db2": db2, "sf": sf}

# ------------------------------------------------------ db2look script

GIANT_TYPES = ["INTEGER", "BIGINT", "SMALLINT", "DECIMAL(15,2)", "DECIMAL(31,0)",
               "VARCHAR(128)", "VARCHAR(4000)", "CHAR(10)", "DATE", "TIMESTAMP",
               "TIMESTAMP(12)", "TIME", "DOUBLE", "CLOB(1M)", "BLOB(10M)",
               "VARGRAPHIC(200)", "XML", "DECFLOAT(34)"]


def gen_giant(rng, out):
    os.makedirs(os.path.join(out, "giant"))
    schemas = ["APP", "SALES", "FINANCE", "HR", "STAGE"]
    lines = ["-- This CLP file was created using DB2LOOK Version \"11.5\"",
             "-- Database Name: BENCHDB", "", "CONNECT TO BENCHDB;", ""]
    recs = []
    for i in range(GIANT_TABLES):
        schema = schemas[rng.randrange(len(schemas))]
        name = f"T{i:06d}"
        ncols = rng.randint(3, 9)
        cols = [(f"C{j:02d}", rng.choice(GIANT_TYPES)) for j in range(ncols)]
        lines.append("------------------------------------------------")
        lines.append(f"-- DDL Statements for Table \"{schema}\".\"{name}\"")
        lines.append("------------------------------------------------")
        lines.append(f"CREATE TABLE \"{schema}\".\"{name}\"  (")
        body = [f"\t\t  \"{c}\" {t}" + (" NOT NULL" if j == 0 else "")
                for j, (c, t) in enumerate(cols)]
        lines.append(" , \n".join(body) + " ) ")
        lines.append(f"\t\t IN \"USERSPACE1\"  ")
        lines.append("\t\t ORGANIZE BY ROW;")
        lines.append("")
        lines.append(f"-- DDL Statements for Primary Key on Table \"{schema}\".\"{name}\"")
        lines.append(f"ALTER TABLE \"{schema}\".\"{name}\" ")
        lines.append(f"\tADD CONSTRAINT \"PK_{name}\" PRIMARY KEY")
        lines.append(f"\t\t(\"{cols[0][0]}\");")
        lines.append("")
        recs.append({"name": f"{schema}.{name}", "columns": ncols,
                     "xml_columns": sum(1 for _, t in cols if t == "XML"),
                     "temporary": False})
    distribute = None
    for _ in range(GIANT_DISTRIBUTES):
        distribute = f"C{rng.randint(0, 2):02d}"
        lines.append(f"DISTRIBUTE BY HASH (\"{distribute}\");")
    lines += ["", "COMMIT WORK;", "CONNECT RESET;", "TERMINATE;", ""]
    text = "\n".join(lines)
    write(os.path.join(out, "giant", "db2look.sql"), text)
    return {"db2": {"db2look.sql": {
        "tables": recs, "alter_pk": list(range(GIANT_TABLES)),
        "distribute": distribute, "bytes": len(text.encode("utf-8"))}}, "sf": {}}

# ------------------------------------------------------ migrate_cdc

LINEITEM_DDL = """CREATE TABLE TPCH.LINEITEM (
    l_orderkey BIGINT NOT NULL,
    l_linenumber INTEGER NOT NULL,
    l_partkey INTEGER NOT NULL,
    l_suppkey INTEGER NOT NULL,
    l_quantity DECIMAL(15,2) NOT NULL,
    l_extendedprice DECIMAL(15,2) NOT NULL,
    l_discount DECIMAL(15,2) NOT NULL,
    l_tax DECIMAL(15,2) NOT NULL,
    l_returnflag CHAR(1) NOT NULL,
    l_linestatus CHAR(1) NOT NULL,
    l_shipdate DATE NOT NULL,
    l_commitdate DATE NOT NULL,
    l_receiptdate DATE NOT NULL,
    l_shipinstruct CHAR(25) NOT NULL,
    l_shipmode CHAR(10) NOT NULL,
    l_comment VARCHAR(44) NOT NULL
);
ALTER TABLE TPCH.LINEITEM ADD CONSTRAINT PK_LINEITEM PRIMARY KEY (l_orderkey, l_linenumber);
DISTRIBUTE BY HASH (l_orderkey);
"""

ORDERS_DDL = """CREATE TABLE TPCH.ORDERS (
    o_orderkey BIGINT NOT NULL,
    o_custkey INTEGER NOT NULL,
    o_orderstatus CHAR(1) NOT NULL,
    o_totalprice DECIMAL(15,2) NOT NULL,
    o_orderdate DATE NOT NULL,
    o_orderpriority CHAR(15) NOT NULL,
    o_clerk CHAR(15) NOT NULL,
    o_shippriority INTEGER NOT NULL,
    o_comment VARCHAR(79) NOT NULL,
    PRIMARY KEY (o_orderkey)
);
"""

WORDS_TEXT = ("furiously final deposits sleep slyly regular accounts haggle "
              "carefully ironic packages boost quickly express requests").split()


def _orders_and_lines(np_rng, first_key, n_orders):
    import numpy as np
    import pyarrow as pa
    keys = np.arange(first_key, first_key + n_orders, dtype=np.int64) * 4
    nlines = np_rng.integers(1, 8, n_orders)
    day0 = np.datetime64("1992-01-01")
    odate = day0 + np_rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    words = np.array(WORDS_TEXT)

    def text(n, k):
        w = words[np_rng.integers(0, len(words), (n, k))]
        return [" ".join(r) for r in w]

    lk = np.repeat(keys, nlines)
    n = len(lk)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    ldate = np.repeat(odate, nlines)
    ship = ldate + np_rng.integers(1, 122, n).astype("timedelta64[D]")
    qty = np_rng.integers(100, 5001, n)               # 1.00 .. 50.00
    price = np_rng.integers(90000, 10500000, n)       # cents
    def cents(a):
        # decimal(15,2) straight from the unscaled values: 16-byte
        # little-endian two's complement, high word 0 for these positives
        words = np.zeros((len(a), 2), np.int64)
        words[:, 0] = a
        return pa.Array.from_buffers(pa.decimal128(15, 2), len(a),
                                     [None, pa.py_buffer(words.tobytes())])

    lines = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_partkey": pa.array(np_rng.integers(1, 20001, n), pa.int32()),
        "l_suppkey": pa.array(np_rng.integers(1, 1001, n), pa.int32()),
        "l_quantity": cents(qty),
        "l_extendedprice": cents(price),
        "l_discount": cents(np_rng.integers(0, 11, n)),
        "l_tax": cents(np_rng.integers(0, 9, n)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[np_rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[np_rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.date32()),
        "l_commitdate": pa.array(ldate + np_rng.integers(30, 91, n).astype("timedelta64[D]"),
                                 pa.date32()),
        "l_receiptdate": pa.array(ship + np_rng.integers(1, 31, n).astype("timedelta64[D]"),
                                  pa.date32()),
        "l_shipinstruct": pa.array(np.array(["DELIVER IN PERSON", "COLLECT COD", "NONE",
                                             "TAKE BACK RETURN"])[np_rng.integers(0, 4, n)]),
        "l_shipmode": pa.array(np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK",
                                         "FOB", "REG AIR"])[np_rng.integers(0, 7, n)]),
        "l_comment": pa.array(text(n, 4)),
    })
    totals = np.bincount(np.repeat(np.arange(n_orders), nlines), weights=price,
                         minlength=n_orders).astype(np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(np_rng.integers(1, 15001, n_orders), pa.int32()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[np_rng.integers(0, 3, n_orders)]),
        "o_totalprice": cents(totals),
        "o_orderdate": pa.array(odate, pa.date32()),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])
                                    [np_rng.integers(0, 5, n_orders)]),
        "o_clerk": pa.array([f"Clerk#{v:09d}" for v in np_rng.integers(1, 1001, n_orders)]),
        "o_shippriority": pa.array(np.zeros(n_orders, np.int32)),
        "o_comment": pa.array(text(n_orders, 6)),
    })
    return orders, lines


def _write_parquet(tbl, path):
    import pyarrow.parquet as pq
    pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 20)


def gen_migrate(seed, out):
    import numpy as np
    import pyarrow as pa
    np_rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "source"))
    orders, lines = _orders_and_lines(np_rng, 1, ORDERS)
    _write_parquet(lines, os.path.join(out, "source", "lineitem.parquet"))
    _write_parquet(orders, os.path.join(out, "source", "orders.parquet"))
    write(os.path.join(out, "lineitem.sql"), LINEITEM_DDL)
    write(os.path.join(out, "orders.sql"), ORDERS_DDL)
    rounds = []
    next_order = ORDERS + 1
    n_upsert = int(lines.num_rows * UPSERT_SHARE)
    for r in range(1, CDC_ROUNDS + 1):
        d = os.path.join(out, f"round{r}")
        os.makedirs(d)
        # upsert: existing (l_orderkey, l_linenumber) keys with new quantities
        pick = np.sort(np_rng.choice(lines.num_rows, n_upsert, replace=False))
        up = lines.take(pa.array(pick))
        qty = pa.array([v.as_py() + 1 for v in up.column("l_quantity")],
                       pa.decimal128(15, 2))
        up = up.set_column(up.schema.get_field_index("l_quantity"), "l_quantity", qty)
        _write_parquet(up, os.path.join(d, "upsert.parquet"))
        # append: whole new orders' lines
        _, new_lines = _orders_and_lines(np_rng, next_order, APPEND_ORDERS)
        next_order += APPEND_ORDERS
        _write_parquet(new_lines, os.path.join(d, "append.parquet"))
        rounds.append({"upsert": f"round{r}/upsert.parquet",
                       "delete": f"l_orderkey % {DELETE_MODULUS} = {r}",
                       "append": f"round{r}/append.parquet",
                       "upsert_rows": up.num_rows, "append_rows": new_lines.num_rows})
    return {"lineitem_rows": lines.num_rows, "orders_rows": orders.num_rows,
            "key": ["l_orderkey", "l_linenumber"], "rounds": rounds}


def generate(workload, seed, out):
    os.makedirs(out)
    rng = random.Random(seed)
    if workload == "ddl_corpus":
        manifest = gen_corpus(rng, out)
    elif workload == "giant_script":
        manifest = gen_giant(rng, out)
    elif workload == "migrate_cdc":
        manifest = gen_migrate(seed, out)
    else:
        raise SystemExit(f"unknown workload: {workload}")
    manifest.update({"workload": workload, "seed": seed})
    write(os.path.join(out, "manifest.json"), json.dumps(manifest, sort_keys=True))


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
