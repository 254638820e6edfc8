#!/usr/bin/env python3
"""Build an Nx scale-stress replica of sf0.1 (default 10x -> /tmp/graft_sf1).

Usage: make_scale10.py [N] [DST]   (e.g. `make_scale10.py 30 /tmp/graft_sf3`
for the 30x stress run). Key-offset replication: fact keys are shifted
per copy so ids stay unique; dimension tables copy as-is. events.parquet
goes through pyarrow to preserve its TIMESTAMP(NANOS) physical type
(Tables.load reads nanos-as-long). Run
`sbt "runMain graft.tools.Probe time --dir <SRC> --vs <DST> q1 q2 ..."` afterwards for
the sf0.1-vs-Nx wall-clock table.
"""
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf1"

con = duckdb.connect()
con.sql(f"""COPY (SELECT doc_id + i*100000 AS doc_id, text, lang, source, n_chars
  FROM '{SRC}/documents.parquet' CROSS JOIN range({N}) r(i))
  TO '{DST}/documents.parquet' (FORMAT PARQUET)""")
con.sql(f"""COPY (SELECT vec_id + i*100000 AS vec_id, embedding, label
  FROM '{SRC}/embeddings.parquet' CROSS JOIN range({N}) r(i))
  TO '{DST}/embeddings.parquet' (FORMAT PARQUET)""")
con.sql(f"""COPY (SELECT l_orderkey + i*10000000 AS l_orderkey, l_partkey, l_suppkey,
    l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
    l_returnflag, l_linestatus, l_shipdate
  FROM '{SRC}/lineitem.parquet' CROSS JOIN range({N}) r(i))
  TO '{DST}/lineitem.parquet' (FORMAT PARQUET)""")
con.sql(f"""COPY (SELECT o_orderkey + i*10000000 AS o_orderkey, o_custkey, o_orderstatus,
    o_totalprice, o_orderdate, o_orderpriority
  FROM '{SRC}/orders.parquet' CROSS JOIN range({N}) r(i))
  TO '{DST}/orders.parquet' (FORMAT PARQUET)""")
for t in ["region", "nation", "customer", "supplier", "part"]:
    con.sql(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{DST}/{t}.parquet' (FORMAT PARQUET)")

src = pq.read_table(f"{SRC}/events.parquet")
parts = []
for i in range(N):
    t = src
    t = t.set_column(t.schema.get_field_index("event_id"), "event_id",
                     pc.add(t["event_id"], i * 10000000))
    t = t.set_column(t.schema.get_field_index("user_id"), "user_id",
                     pc.add(t["user_id"], i * 100000))
    parts.append(t)
pq.write_table(pa.concat_tables(parts), f"{DST}/events.parquet", version="2.6")
print("done:", DST, f"({N}x)")
