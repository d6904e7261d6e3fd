"""Seeded input generator for the benchmark, in DuckDB SQL.

The tables follow the schemas of the library's test fixtures (TESTDATA.md):
a TPC-H-like star schema plus `events`, `documents` and `embeddings`, one
single-file parquet per table, as the fixtures ship. Every value is a pure
function of (seed, salt, key), so one seed always gives the same bytes.
Money columns are whole cents divided by 100 and timestamps are plain
(time-zone-free) TIMESTAMPs, as in the fixtures.

Row counts scale like the fixtures (`scale` 0.1 gives 150k orders and
~600k lineitem rows). Unlike the fixtures, (l_orderkey, l_linenumber) is
unique: the CDC workload needs a well-defined key. The JVM side repeats
`sizes` (perfbench.Sizes) to build change batches over these tables.
"""
import os

ORDER_EPOCH = 788918400  # 1995-01-01
EVENT_EPOCH = 1704067200  # 2024-01-01
CDC_EPOCH = 1767225600  # 2026-01-01, stamp of the CDC initial load
DAY = 86400
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
ALL = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
       "events", "documents", "embeddings")


def sizes(scale):
    return {
        "customer": max(50, int(150000 * scale)), "supplier": max(10, int(10000 * scale)),
        "part": max(50, int(200000 * scale)), "orders": max(100, int(1500000 * scale)),
        "events": max(200, int(1000000 * scale)), "documents": max(200, int(50000 * scale)),
        "embeddings": max(200, int(20000 * scale)),
    }


def _lst(values):
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


def _queries(seed, scale):
    n = sizes(scale)

    def draw(salt, m, *keys):
        return f"(hash({seed}, {salt}, {', '.join(keys)}) % {m})::BIGINT"

    def pick(salt, values, *keys):
        return f"{_lst(values)}[{draw(salt, len(values), *keys)} + 1]"

    def cents(salt, lo, hi, *keys):
        return f"(({draw(salt, hi - lo + 1, *keys)} + {lo}) / 100.0)::DOUBLE"

    def ts(epoch_seconds):
        return f"make_timestamp(({epoch_seconds})::BIGINT * 1000000)"

    orders = f"""SELECT range AS o_orderkey,
        {draw(41, n['customer'], 'range')} AS o_custkey,
        {pick(42, ['F', 'O', 'P'], 'range')} AS o_orderstatus,
        {cents(43, 100191, 49999318, 'range')} AS o_totalprice,
        {ts(f"{draw(44, 2404, 'range')} * {DAY} + {ORDER_EPOCH}")} AS o_orderdate,
        {pick(45, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'range')}
          AS o_orderpriority
      FROM range({n['orders']})"""
    k = ("o_orderkey", "l_linenumber")
    lineitem = f"""SELECT o_orderkey AS l_orderkey,
        {draw(52, n['part'], *k)} AS l_partkey,
        {draw(53, n['supplier'], *k)} AS l_suppkey,
        l_linenumber::INTEGER AS l_linenumber,
        ({draw(54, 50, *k)} + 1)::DOUBLE AS l_quantity,
        {cents(55, 90068, 10499991, *k)} AS l_extendedprice,
        ({draw(56, 11, *k)} / 100.0)::DOUBLE AS l_discount,
        ({draw(57, 9, *k)} / 100.0)::DOUBLE AS l_tax,
        {pick(58, ['A', 'N', 'R'], *k)} AS l_returnflag,
        {pick(59, ['F', 'O'], *k)} AS l_linestatus,
        o_orderdate + to_days(({draw(60, 120, *k)} + 1)::INTEGER) AS l_shipdate
      FROM (SELECT o_orderkey, o_orderdate,
              unnest(range(1, {draw(51, 7, 'o_orderkey')} + 2)) AS l_linenumber
            FROM ({orders}))"""
    step = 30 * DAY * 1000000 // n["events"]
    users = max(10, n["customer"] // 10)
    words = f"{draw(71, 90, 'range')} + 8"
    return {
        "region": f"""SELECT range::INTEGER AS r_regionkey,
            {_lst(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}[range + 1] AS r_name
          FROM range(5)""",
        "nation": """SELECT range::INTEGER AS n_nationkey, 'NATION_' || range AS n_name,
            (range % 5)::INTEGER AS n_regionkey FROM range(25)""",
        "customer": f"""SELECT range AS c_custkey, printf('Customer#%09d', range) AS c_name,
            {draw(11, 25, 'range')}::INTEGER AS c_nationkey,
            {cents(12, -99985, 999980, 'range')} AS c_acctbal,
            {pick(13, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'range')}
              AS c_mktsegment
          FROM range({n['customer']})""",
        "supplier": f"""SELECT range AS s_suppkey, printf('Supplier#%09d', range) AS s_name,
            {draw(21, 25, 'range')}::INTEGER AS s_nationkey,
            {cents(22, -99999, 999999, 'range')} AS s_acctbal
          FROM range({n['supplier']})""",
        "part": f"""SELECT range AS p_partkey,
            {pick(31, ['large', 'hot', 'blue', 'old', 'small', 'green', 'red', 'tiny'], 'range')}
              || ' ' ||
            {pick(32, ['ring', 'bolt', 'plate', 'anvil', 'widget', 'gear', 'nut', 'pipe'], 'range')}
              AS p_name,
            'Brand#' || ({draw(33, 25, 'range')} + 1) AS p_brand,
            {pick(34, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], 'range')}
              AS p_type,
            ({draw(35, 50, 'range')} + 1)::INTEGER AS p_size,
            ((range % 1000 + 9000) / 10.0)::DOUBLE AS p_retailprice
          FROM range({n['part']})""",
        "orders": orders,
        "lineitem": lineitem,
        "events": f"""SELECT range AS event_id,
            make_timestamp(range * {step} + {draw(61, step, 'range')}
              + {EVENT_EPOCH} * 1000000::BIGINT) AS ts,
            {draw(62, users, 'range')} AS user_id,
            {pick(63, ['click', 'error', 'purchase', 'signup', 'view'], 'range')} AS event_type,
            {cents(64, 0, 56021, 'range')} AS value,
            '{{"k": ' || {draw(65, 100, 'range')} || '}}' AS props
          FROM range({n['events']})""",
        "documents": f"""SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
          FROM (SELECT range AS doc_id,
              array_to_string(list_transform(range(1, {words} + 1),
                i -> {_lst(VOCAB)}[(hash({seed}, 72, range, i) % {len(VOCAB)})::BIGINT + 1]), ' ')
                AS text,
              {pick(73, ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'], 'range')} AS lang,
              'src' || {draw(74, 20, 'range')} AS source
            FROM range({n['documents']}))""",
        "embeddings": f"""SELECT range AS vec_id,
            list_transform(range(1, 65),
              i -> (((hash({seed}, 81, range, i) % 20001)::BIGINT - 10000) / 50000.0)::FLOAT)
              AS embedding,
            {draw(82, 10, 'range')}::INTEGER AS label
          FROM range({n['embeddings']})""",
    }


def write(out_dir, seed, scale, names=ALL, cdc=False):
    """Write `names` at `scale` under `out_dir` as `<name>.parquet` files.
    With `cdc`, orders gains the `o_updated_at` stamp of the initial load."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    qs = _queries(seed, scale)
    if cdc:
        qs["orders"] = (f"SELECT *, make_timestamp({CDC_EPOCH} * 1000000::BIGINT) "
                        f"AS o_updated_at FROM ({qs['orders']})")
    con = duckdb.connect()
    try:
        for name in names:
            path = os.path.join(out_dir, f"{name}.parquet")
            con.sql(f"COPY ({qs[name]}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
