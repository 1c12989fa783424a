"""Seeded inputs and DuckDB-computed expected outputs for `etl_migrate`.

The inputs derive from the corpus's customer, orders and lineitem tables.
Every random choice is a hash of the row's key, a salt and the seed, so the
same seed gives the same inputs.

The reference publishes no traffic figures (BASELINE.md): no duplicate rate,
no overlap with the destination, no batch sizes.  So every share below is an
unverified choice, not a measurement, and the mix is not representative of
the reference's traffic.  Each value is sized only so that the code path it
names has work on every pass; where the reference's scripts fix a shape, the
value is derived from it and the line is cited.

CUSTOMER_MOD    keep one customer in CUSTOMER_MOD, with its orders and their
                lines (about 190k of the 765k corpus rows).  Sized for the
                benchmark's time budget, not from the reference.
DUP_SHARE       unverified choice.  Share of source rows whose unique key
                repeats another row's key, so first-wins dedup (the
                reference's run-local key cache, `ETLTask.php:32-34, 52`) has
                losers.  A duplicated customer code carries trailing blanks:
                the reference compares string keys trim-insensitively
                (`ETLTask.php:50-52`).
DEST_OVERLAP    unverified choice.  Share of batch-1 keys already present in
                the pre-populated destination, with different values, so the
                anti-join against the destination (the reference's exists
                probe, `ETLTask.php:46`) has hits.
HOLDBACK        unverified choice.  Share of keys held back from batch 1;
                they arrive new in batch 2, so the incremental load appends.
BATCH2_OVERLAP  unverified choice.  Share of batch-1 rows sent again in batch
                2 with changed values; the destination already holds them, so
                the anti-join must drop them.
VT_UPDATE_SHARE unverified choice.  Share of migrated orders the
                versioned-table merge rewrites, so the merge has matches;
VT_NEW_ORDERS   (unverified) more rows it inserts, so it has non-matches.
VT_DELETE_BEFORE unverified choice: a date inside the orders' range, so
                `deleteWhere` removes some rows and keeps others.
JDBC_CHUNK      keys per JDBC upsert slice: 500, the distinct keys the
                reference hands one worker process (`sdk/process.php:137`,
                BASELINE.md).  The insert slice is the first chunk of
                customer ids; the update slice is a second chunk that
                overlaps the first by half (an unverified choice), so the
                upsert both updates existing rows and inserts new ones.
"""
import json
import os

import duckdb

CUSTOMER_MOD = 4
DUP_SHARE = 0.02
DEST_OVERLAP = 0.05
HOLDBACK = 0.10
BATCH2_OVERLAP = 0.03
VT_UPDATE_SHARE = 0.02
VT_NEW_ORDERS = 250
VT_DELETE_BEFORE = "1995-03-01"
JDBC_CHUNK = 500
# Customer ids are kept one in CUSTOMER_MOD, so a chunk of ids spans
# JDBC_CHUNK * CUSTOMER_MOD of them.
JDBC_INSERT_MAX_ID = JDBC_CHUNK * CUSTOMER_MOD
JDBC_UPDATE_IDS = (JDBC_INSERT_MAX_ID // 2, JDBC_INSERT_MAX_ID * 3 // 2)

# `NOW()` of every run: fixed, so destination contents are comparable.
RUN_TS = "2024-01-01 00:00:00"

# The pipeline config, in the reference's format (`etl.php`): destination ->
# (source table, column mapping, unique keys).  "[src]" maps a source column,
# NOW() the run timestamp, anything else is a literal.
FLOWS = {
    "dst_customer": ("src_customer", {
        "cust_code": "[c_name]", "cust_id": "[c_custkey]", "nation": "[c_nationkey]",
        "balance": "[c_acctbal]", "segment": "[c_mktsegment]",
        "source_system": "legacy-crm", "loaded_at": "NOW()"},
        ["cust_code", "cust_id"]),
    "dst_orders": ("src_orders", {
        "order_id": "[o_orderkey]", "cust_id": "[o_custkey]", "status": "[o_orderstatus]",
        "total": "[o_totalprice]", "odate": "[o_orderdate]", "priority": "[o_orderpriority]"},
        ["order_id"]),
    "dst_lineitem": ("src_lineitem", {
        "line_id": "[li_id]", "order_id": "[l_orderkey]", "part_id": "[l_partkey]",
        "qty": "[l_quantity]", "price": "[l_extendedprice]", "flag": "[l_returnflag]"},
        ["line_id"]),
    # fan-out: the same source feeds a second destination
    "dst_first_line": ("src_lineitem", {
        "order_id": "[l_orderkey]", "line_id": "[li_id]", "ship_date": "[l_shipdate]",
        "qty": "[l_quantity]"},
        ["order_id"]),
}
STRING_KEYS = {"cust_code"}


def config():
    """The pipeline config the engine parses (`PipelineSpec.parse`)."""
    return {"tables": [{"flow": f"{src} -> {dst}", "columns": cols, "unique": keys}
                       for dst, (src, cols, keys) in FLOWS.items()]}


def _u(key, salt, seed):
    """A uniform draw in [0, 1) from a key, a salt and the seed."""
    return (f"(hash(CAST({key} AS VARCHAR) || ':{salt}:{int(seed)}') "
            f"% 1000000) / 1000000.0")


def _value(spec):
    if spec.startswith("["):
        return spec.strip("[]")
    return "'" + (RUN_TS if spec == "NOW()" else spec).replace("'", "''") + "'"


def _select(flow):
    return ", ".join(f"{_value(spec)} AS {dst}" for dst, spec in flow[1].items())


def _norm(col):
    return f"trim({col})" if col in STRING_KEYS else col


def generate(con, corpus, out, seed):
    """Write the inputs for `seed` under `out`; return the expected outputs
    as DuckDB tables named exp_*, plus row counts."""
    for d in ("b1", "b2", "dest0"):
        os.makedirs(f"{out}/{d}", exist_ok=True)
    lo, hi = JDBC_UPDATE_IDS
    with open(f"{out}/config.json", "w") as f:
        json.dump(config(), f, indent=1)
    with open(f"{out}/params.json", "w") as f:
        json.dump({"run_ts": RUN_TS, "jdbc_insert_max_id": JDBC_INSERT_MAX_ID,
                   "jdbc_update_ids": [lo, hi], "vt_delete_before": VT_DELETE_BEFORE}, f)
    u = lambda key, salt: _u(key, salt, seed)

    # Base rows, one per source key, before the batch split.  `k` is the
    # row's original key; a duplicate row takes a neighbour's key.
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE base_customer AS
      SELECT c_custkey AS k,
             CASE WHEN {u('c_custkey', 'dup')} < {DUP_SHARE}
                  THEN lead(c_name, 7, c_name) OVER (ORDER BY c_custkey) || '  '
                  ELSE c_name END AS c_name,
             c_custkey, c_nationkey, c_acctbal, c_mktsegment
      FROM read_parquet('{corpus}/customer.parquet')
      WHERE c_custkey % {CUSTOMER_MOD} = 0""")
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE base_orders AS
      SELECT o_orderkey AS k,
             CASE WHEN {u('o_orderkey', 'dup')} < {DUP_SHARE}
                  THEN lead(o_orderkey, 7, o_orderkey) OVER (ORDER BY o_orderkey)
                  ELSE o_orderkey END AS o_orderkey,
             o_custkey, o_orderstatus, o_totalprice,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
      FROM read_parquet('{corpus}/orders.parquet')
      WHERE o_custkey % {CUSTOMER_MOD} = 0""")
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE base_lineitem AS
      WITH li AS (SELECT l_orderkey * 8 + l_linenumber AS k, *
                  FROM read_parquet('{corpus}/lineitem.parquet')
                  WHERE l_orderkey IN (SELECT o_orderkey FROM read_parquet(
                    '{corpus}/orders.parquet') WHERE o_custkey % {CUSTOMER_MOD} = 0))
      SELECT k,
             CASE WHEN {u('k', 'dup')} < {DUP_SHARE}
                  THEN lead(k, 3, k) OVER (ORDER BY k) ELSE k END AS li_id,
             l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag,
             strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
      FROM li""")

    # Changed values for rows that batch 2 sends again.
    resend = {
        "customer": "c_acctbal + 1 AS c_acctbal",
        "orders": "'X' AS o_orderstatus",
        "lineitem": "l_quantity + 1 AS l_quantity",
    }
    counts = {}
    for t in ("customer", "orders", "lineitem"):
        cols = [r[0] for r in con.execute(f"DESCRIBE base_{t}").fetchall()][1:]
        changed_col = resend[t].rsplit(" AS ", 1)[1]
        resent = ", ".join(resend[t] if c == changed_col else c for c in cols)
        # `ord` is the cursor order first-wins refers to: a seeded permutation.
        con.execute(f"""
          CREATE OR REPLACE TEMP TABLE src_{t}_b1 AS
          SELECT {', '.join(cols)},
                 row_number() OVER (ORDER BY hash(CAST(k AS VARCHAR) || ':ord1:{int(seed)}'), k) AS ord
          FROM base_{t} WHERE {u('k', 'hold')} >= {HOLDBACK}""")
        con.execute(f"""
          CREATE OR REPLACE TEMP TABLE src_{t}_b2 AS
          WITH rows AS (
            SELECT k, {', '.join(cols)} FROM base_{t} WHERE {u('k', 'hold')} < {HOLDBACK}
            UNION ALL
            SELECT k, {resent} FROM base_{t}
            WHERE {u('k', 'hold')} >= {HOLDBACK} AND {u('k', 'b2')} < {BATCH2_OVERLAP})
          SELECT {', '.join(cols)},
                 row_number() OVER (ORDER BY hash(CAST(k AS VARCHAR) || ':ord2:{int(seed)}'), k) AS ord
          FROM rows""")
        for b in ("b1", "b2"):
            con.execute(f"COPY src_{t}_{b} TO '{out}/{b}/src_{t}.parquet' (FORMAT PARQUET)")
            counts[f"src_{t}_{b}"] = con.execute(f"SELECT count(*) FROM src_{t}_{b}").fetchone()[0]

    # Pre-populated destinations: mapped batch-1 rows with marked values.
    marks = {
        "dst_customer": {"segment": "'PRELOADED'", "source_system": "'seed'",
                         "loaded_at": "'2023-12-31 00:00:00'"},
        "dst_orders": {"status": "'P0'"},
        "dst_lineitem": {"flag": "'Z'"},
        "dst_first_line": {"qty": "CAST(-1 AS DOUBLE)"},
    }
    for dst, flow in FLOWS.items():
        key = flow[2][-1]
        names = list(flow[1])
        sel = ", ".join(f"{marks[dst].get(n, n)} AS {n}" for n in names)
        con.execute(f"""
          CREATE OR REPLACE TEMP TABLE dest0_{dst} AS
          WITH m AS (SELECT {_select(flow)}, ord FROM {flow[0]}_b1)
          SELECT {sel} FROM m
          WHERE {u(_norm(key), 'dest')} < {DEST_OVERLAP}
          QUALIFY row_number() OVER (PARTITION BY {_norm(key)} ORDER BY ord) = 1""")
        os.makedirs(f"{out}/dest0/{dst}", exist_ok=True)
        con.execute(f"COPY dest0_{dst} TO '{out}/dest0/{dst}/part-0.parquet' (FORMAT PARQUET)")

    # Expected: each batch is first-wins per unique key in column order, with
    # the destination's existing keys removed before each key's pass.
    expected_appended = {"batch1": {}, "batch2": {}, "batch2_rerun": {}}
    for dst, flow in FLOWS.items():
        names = list(flow[1])
        con.execute(f"CREATE OR REPLACE TEMP TABLE exp_{dst} AS SELECT * FROM dest0_{dst}")
        for b, label in (("b1", "batch1"), ("b2", "batch2")):
            con.execute(f"CREATE OR REPLACE TEMP TABLE cur AS "
                        f"SELECT {_select(flow)}, ord FROM {flow[0]}_{b}")
            for key in flow[2]:
                nk = _norm(key)
                con.execute(f"""
                  CREATE OR REPLACE TEMP TABLE cur AS
                  SELECT * FROM cur
                  WHERE {nk} NOT IN (SELECT {nk} FROM exp_{dst})
                  QUALIFY row_number() OVER (PARTITION BY {nk} ORDER BY ord) = 1""")
            n = con.execute("SELECT count(*) FROM cur").fetchone()[0]
            expected_appended[label][dst] = n
            con.execute(f"INSERT INTO exp_{dst} SELECT {', '.join(names)} FROM cur")
        expected_appended["batch2_rerun"][dst] = 0

    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE vt_updates AS
      SELECT order_id, cust_id, 'U' AS status, total + 1 AS total, odate, priority
      FROM exp_dst_orders WHERE {u('order_id', 'vt')} < {VT_UPDATE_SHARE}
      UNION ALL
      SELECT m.top + i AS order_id, i % 1000 AS cust_id, 'N' AS status,
             CAST(i AS DOUBLE) AS total, '1999-01-01' AS odate, '1-URGENT' AS priority
      FROM range(1, {VT_NEW_ORDERS + 1}) r(i), (SELECT max(order_id) AS top FROM exp_dst_orders) m""")
    con.execute(f"COPY vt_updates TO '{out}/vt_updates.parquet' (FORMAT PARQUET)")
    counts["vt_updates"] = con.execute("SELECT count(*) FROM vt_updates").fetchone()[0]
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE exp_vt AS
      SELECT * FROM (
        SELECT * FROM exp_dst_orders WHERE order_id NOT IN (SELECT order_id FROM vt_updates)
        UNION ALL SELECT * FROM vt_updates)
      WHERE NOT (odate < '{VT_DELETE_BEFORE}')""")
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE exp_jdbc AS
      SELECT cust_id, cust_code, segment, balance FROM exp_dst_customer
      WHERE cust_id <= {JDBC_INSERT_MAX_ID} AND NOT (cust_id > {lo} AND cust_id <= {hi})
      UNION ALL
      SELECT cust_id, cust_code, 'SYNCED' AS segment, balance FROM exp_dst_customer
      WHERE cust_id > {lo} AND cust_id <= {hi}""")
    return expected_appended, counts


def source_rows_per_pass(counts):
    """Source rows one pass feeds through the flows: batch 1, batch 2 and the
    batch-2 re-run, each source counted once per flow reading it."""
    total = 0
    for b, times in (("b1", 1), ("b2", 2)):
        for flow in FLOWS.values():
            total += counts[f"{flow[0]}_{b}"] * times
    return total


def compare(con, expected, actual_glob, columns):
    """Rows in one table and not the other, both ways (multiset)."""
    cols = ", ".join(columns)
    con.execute(f"CREATE OR REPLACE TEMP VIEW act AS SELECT {cols} "
                f"FROM read_parquet('{actual_glob}')")
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {expected} "
                          f"EXCEPT ALL SELECT {cols} FROM act)").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM act "
                        f"EXCEPT ALL SELECT {cols} FROM {expected})").fetchone()[0]
    return missing, extra


def check_pass(con, extra, expected_appended):
    """Problems found in one pass's outputs (empty when it is correct)."""
    problems = []
    d = extra["dir"]
    for label, want in expected_appended.items():
        got = extra["appended"].get(label)
        if got != want:
            problems.append(f"{label}: appended {got}, expected {want}")
    outputs = [(dst, f"{d}/{dst}/*.parquet", list(f[1]))
               for dst, f in FLOWS.items()]
    dumped = {"jdbc": ["cust_id", "cust_code", "segment", "balance"],
              "vt": ["order_id", "cust_id", "status", "total", "odate", "priority"]}
    for name, cols in dumped.items():
        dump = extra["dumps"][name]
        if isinstance(dump, dict):
            problems.append(f"{name}: {dump['error']}")
        else:
            outputs.append((name, f"{dump}/*.parquet", cols))
    for name, glob, cols in outputs:
        exp = f"exp_{name}"
        try:
            missing, extra_rows = compare(con, exp, glob, cols)
        except duckdb.Error as e:
            problems.append(f"{name}: {str(e).splitlines()[0][:200]}")
            continue
        if missing or extra_rows:
            problems.append(f"{name}: {missing} expected rows missing, {extra_rows} unexpected")
    return problems
