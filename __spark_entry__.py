"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY §2
through the REAL pipeline (hnormalise_spark.pipeline.normalise): the
query deterministically constructs syslog lines from the driver's base
tables (orders/events/customer/lineitem), parses them, and projects
typed fields out. The matching ``oracle_sql()`` computes the expected
values DIRECTLY from the base columns by arithmetic — it never
re-parses — so a pass proves the parser exactly inverts the
construction (a strong, independent oracle).

Both dicts are read off one table, each row ``name: (query, oracle)``:
``_REGISTRY`` below (the parse contract) merged with
``hnormalise_spark.ops.entry.REGISTRY`` (the training-data operators).

Conventions for the driver's order-insensitive value-hash compare:
ints cast to BIGINT, booleans to INT, identical column aliases on both
sides.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnormalise_spark.ops import entry as ops_entry


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a small key table to the session's core count BEFORE
    the per-row heavy work (line construction + parse, shingle hashing).

    The synthetic key tables are single-digit-MB parquet files — ONE
    input split under maxPartitionBytes — while the work per row is
    ms-scale CPU, so without this the whole query runs on one core of a
    32-core session. At 100 TB the scan itself supplies thousands of
    splits and this repartition is a no-op-sized shuffle of key columns
    (bytes/row); partition-count-from-bytes is the wrong heuristic
    whenever per-row compute, not I/O, is the bottleneck."""
    from hnormalise_spark.session import spread_to_cores

    return spread_to_cores(df)


def _norm(df: DataFrame, line: F.Column, doc_id: F.Column) -> DataFrame:
    from hnormalise_spark.pipeline import normalise

    # repartition the KEYS (not the constructed lines): only the long
    # column crosses the shuffle; format_string runs post-shuffle on
    # all cores
    return normalise(_spread(df).select(doc_id.alias("doc_id"), line.alias("raw")))


def _env(msg: F.Column, k: F.Column) -> F.Column:
    return F.format_string(
        "<%d>1 2017-05-24T18:01:%02d.000000+02:00 node%04d.c%d.example.org tag - %s",
        k % 190 + 1, k % 60, k % 500, (k % 500) % 7, msg,
    )


# ---------------------------------------------------------------------------
# torque line constructors (shared between queries)


def _torque_exit_line(k: F.Column) -> F.Column:
    nh = k % 3 + 1
    ppn = k % 8 + 1
    exec_host = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("long"), nh - 1),
            lambda j: F.format_string(
                "node%04d.c1.example.org/0-%d", (k * 7 + j) % 9999, ppn - 1
            ),
        ),
        "+",
    )
    acct = F.when(k % 4 == 0, F.format_string(" account=acct%d", k % 50)).otherwise(F.lit(""))
    tes = F.when(k % 2 == 0, F.format_string(" total_execution_slots=%d", nh * ppn)).otherwise(F.lit(""))
    energy = F.when(k % 3 == 0, F.lit(" resources_used.energy_used=0")).otherwise(F.lit(""))
    return F.format_string(
        "torque: 04/05/2017 13:06:53;E;%d.master%d.c%d.example.org;"
        "user=vsc4%04d group=vsc4%04d%s jobname=job_%d queue=q%d "
        "ctime=%d qtime=%d etime=%d start=%d "
        "owner=vsc4%04d@submit01.example.org exec_host=%s "
        "Resource_List.neednodes=%d:ppn=%d Resource_List.nice=0 "
        "Resource_List.nodect=%d Resource_List.nodes=%d:ppn=%d "
        "Resource_List.vmem=%dgb Resource_List.walltime=%02d:%02d:00"
        "%s session=%d unique_node_count=%d end=%d Exit_status=%d "
        "resources_used.cput=%d%s resources_used.mem=%dkb "
        "resources_used.vmem=%dkb resources_used.walltime=%02d:%02d:00",
        k, k % 20, k % 20 % 7,
        k % 10000, k % 10000, acct, k, k % 5,
        F.lit(1500000000) + k, F.lit(1500000000) + k + k % 600,
        F.lit(1500000000) + k + k % 600, F.lit(1500000000) + k + k % 600 + 7,
        k % 10000, exec_host,
        nh, ppn, nh, nh, ppn,
        k % 16 + 1, k % 72, k % 60,
        tes, k % 100000, nh, F.lit(1500000000) + k + 86400, k % 10 - 3,
        k % 86400, energy, k % 1000000 + 1, k % 3000000 + 1,
        k % 48, (k + 17) % 60,
    )


# ---------------------------------------------------------------------------
# queries


def q_parse_torque_exit(spark: SparkSession, sf: str) -> DataFrame:
    """T11-T14: full job-exit parse (KV body, memory/walltime
    conversions, exec_host expansion + merge, derived defaults)."""
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    k = F.col("k")
    parsed = _norm(orders, _env(_torque_exit_line(k), k), F.format_string("tq-%d", k))
    t = F.col("torque")
    return parsed.select(
        F.col("doc_id"),
        F.col("parse_ok").cast("int").alias("parse_ok"),
        t["name"]["number"].alias("job_number"),
        t["name"]["master"].alias("master"),
        t["user"].alias("job_user"),
        t["account"].alias("account"),
        t["queue"].alias("queue"),
        t["times"]["ctime"].alias("ctime"),
        t["times"]["end_time"].alias("end_time"),
        t["resource_request"]["vmem"].alias("vmem_bytes"),
        t["resource_request"]["walltime"]["total_seconds"].alias("walltime_sec"),
        t["resource_request"]["nodect"].alias("nodect"),
        t["resource_usage"]["cputime"].alias("cputime_sec"),
        t["resource_usage"]["mem"].alias("mem_bytes"),
        t["resource_usage"]["energy"].alias("energy"),
        t["total_execution_slots"].alias("slots"),
        t["unique_node_count"].alias("unique_nodes"),
        F.size(t["exec_host"]).cast("long").alias("n_exec_hosts"),
        t["exit_status"].alias("exit_status"),
    )


def _oracle_torque_exit() -> str:
    return """
    SELECT 'tq-' || o_orderkey AS doc_id,
           1 AS parse_ok,
           o_orderkey AS job_number,
           'master' || (o_orderkey % 20) AS master,
           printf('vsc4%04d', o_orderkey % 10000) AS job_user,
           CASE WHEN o_orderkey % 4 = 0 THEN 'acct' || (o_orderkey % 50) END AS account,
           'q' || (o_orderkey % 5) AS queue,
           1500000000 + o_orderkey AS ctime,
           1500000000 + o_orderkey + 86400 AS end_time,
           (o_orderkey % 16 + 1) * 1073741824 AS vmem_bytes,
           (o_orderkey % 72) * 3600 + (o_orderkey % 60) * 60 AS walltime_sec,
           (o_orderkey % 3 + 1) AS nodect,
           o_orderkey % 86400 AS cputime_sec,
           (o_orderkey % 1000000 + 1) * 1024 AS mem_bytes,
           CASE WHEN o_orderkey % 3 = 0 THEN 0 END AS energy,
           (o_orderkey % 3 + 1) * (o_orderkey % 8 + 1) AS slots,
           (o_orderkey % 3 + 1) AS unique_nodes,
           (o_orderkey % 3 + 1) AS n_exec_hosts,
           o_orderkey % 10 - 3 AS exit_status
    FROM orders
    """


def q_parse_torque_queue(spark: SparkSession, sf: str) -> DataFrame:
    """T3+T18: job-name decomposition incl. array ids and Q-entry parse."""
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderkey").cast("long").alias("k")
    )
    k = F.col("k")
    arr = (
        F.when(k % 3 == 0, F.format_string("[%d]", k % 997))
        .when(k % 3 == 1, F.lit("[]"))
        .otherwise(F.lit(""))
    )
    msg = F.format_string(
        "torque: 06/28/2017 14:31:09;Q;%d%s.m%d.c%d.example.org;queue=q%d",
        k, arr, k % 13, k % 7, k % 5,
    )
    parsed = _norm(orders, _env(msg, k), F.format_string("tq-%d", k))
    t = F.col("torque")
    return parsed.select(
        "doc_id",
        F.col("parser").alias("parser"),
        t["name"]["number"].alias("job_number"),
        t["name"]["array_id"].alias("array_id"),
        t["name"]["master"].alias("master"),
        t["name"]["cluster"].alias("cluster"),
        t["queue"].alias("queue"),
        t["datestamp"].alias("datestamp"),
    )


def _oracle_torque_queue() -> str:
    return """
    SELECT 'tq-' || o_orderkey AS doc_id,
           'torque_queue' AS parser,
           o_orderkey AS job_number,
           CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 997 END AS array_id,
           'm' || (o_orderkey % 13) AS master,
           'c' || (o_orderkey % 7) AS cluster,
           'q' || (o_orderkey % 5) AS queue,
           '06/28/2017 14:31:09' AS datestamp
    FROM orders
    """


def q_parse_snoopy(spark: SparkSession, sf: str) -> DataFrame:
    """N1: snoopy exec-log extraction (optional username, tty, cwd,
    bracket-delimited executable, trailing command)."""
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("event_id").cast("long").alias("k"),
        F.col("user_id").cast("long").alias("u"),
    )
    k, u = F.col("k"), F.col("u")
    uname = F.when(k % 2 == 0, F.format_string(" username:user%03d", u % 500)).otherwise(F.lit(""))
    msg = F.format_string(
        "snoopy[%d]::  [uid:%d%s sid:%d tty:%s cwd:/home/dir%d "
        "filename:/usr/bin/tool%02d]: tool%02d --input f_%d.txt -n %d",
        k % 65536, u % 65536, uname, k % 9999,
        F.when(k % 4 == 0, F.lit("pts/1")).otherwise(F.lit("(none)")),
        u % 100, k % 50, k % 50, k, k % 100,
    )
    parsed = _norm(ev.withColumn("u", u), _env(msg, k), F.format_string("sn-%d", k))
    s = F.col("snoopy")
    return parsed.select(
        "doc_id",
        s["pid"].cast("long").alias("pid"),
        s["uid"].cast("long").alias("uid"),
        s["username"].alias("username"),
        s["sid"].cast("long").alias("sid"),
        s["tty"].alias("tty"),
        s["cwd"].alias("cwd"),
        s["executable"].alias("executable"),
        s["command"].alias("command"),
    )


def _oracle_snoopy() -> str:
    return """
    SELECT 'sn-' || event_id AS doc_id,
           event_id % 65536 AS pid,
           user_id % 65536 AS uid,
           CASE WHEN event_id % 2 = 0 THEN printf('user%03d', user_id % 500) END AS username,
           event_id % 9999 AS sid,
           CASE WHEN event_id % 4 = 0 THEN 'pts/1' ELSE '(none)' END AS tty,
           '/home/dir' || (user_id % 100) AS cwd,
           printf('/usr/bin/tool%02d', event_id % 50) AS executable,
           printf('tool%02d --input f_%d.txt -n %d', event_id % 50, event_id, event_id % 100) AS command
    FROM events
    """


def q_parse_lmod(spark: SparkSession, sf: str) -> DataFrame:
    """L1-L5: lmod load/command incl. the jobid sum type
    (torque-name | slurm int | empty → null)."""
    cust = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("k")
    )
    k = F.col("k")
    jobid = (
        F.when(k % 3 == 0, F.format_string("%d.master%d.cl%d.example.org", k * 3 + 1, k % 20, k % 7))
        .when(k % 3 == 1, F.format_string("%d", k * 11))
        .otherwise(F.lit(""))
    )
    load = F.format_string(
        "lmod::  username=u%d, cluster=cl%d, jobid=%s, userload=%s, "
        "module=Mod%d/%d.%d-x, fn=/apps/all/Mod%d",
        k, k % 7, jobid,
        F.when(k % 2 == 0, F.lit("yes")).otherwise(F.lit("No")),
        k % 100, k % 9, (k + 1) % 9, k % 100,
    )
    cmd = F.format_string(
        "lmod::  username=u%d, cluster=cl%d, jobid=%s, cmd=load, args=cluster/c%d",
        k, k % 7, jobid, k % 7,
    )
    msg = F.when(k % 5 < 4, load).otherwise(cmd)
    parsed = _norm(cust, _env(msg, k), F.format_string("lm-%d", k))
    l = F.col("lmod")
    return parsed.select(
        "doc_id",
        F.col("parser").alias("parser"),
        l["info"]["username"].alias("username"),
        l["info"]["cluster"].alias("cluster"),
        l["info"]["jobid"]["number"].alias("slurm_jobid"),
        l["info"]["jobid"]["torque"]["number"].alias("torque_jobid"),
        l["userload"].cast("int").alias("userload"),
        l["module"]["name"].alias("module_name"),
        l["module"]["version"].alias("module_version"),
        l["command"].alias("command"),
        l["arguments"].alias("arguments"),
    )


def _oracle_lmod() -> str:
    return """
    SELECT 'lm-' || c_custkey AS doc_id,
           CASE WHEN c_custkey % 5 < 4 THEN 'lmod_load' ELSE 'lmod_command' END AS parser,
           'u' || c_custkey AS username,
           'cl' || (c_custkey % 7) AS cluster,
           CASE WHEN c_custkey % 3 = 1 THEN c_custkey * 11 END AS slurm_jobid,
           CASE WHEN c_custkey % 3 = 0 THEN c_custkey * 3 + 1 END AS torque_jobid,
           CASE WHEN c_custkey % 5 < 4 THEN CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END END AS userload,
           CASE WHEN c_custkey % 5 < 4 THEN 'Mod' || (c_custkey % 100) END AS module_name,
           CASE WHEN c_custkey % 5 < 4 THEN (c_custkey % 9) || '.' || ((c_custkey + 1) % 9) || '-x' END AS module_version,
           CASE WHEN c_custkey % 5 >= 4 THEN 'load' END AS command,
           CASE WHEN c_custkey % 5 >= 4 THEN 'cluster/c' || (c_custkey % 7) END AS arguments
    FROM customer
    """


def q_parse_shorewall(spark: SparkSession, sf: str) -> DataFrame:
    """W1-W4: shorewall TCP/UDP/ICMP with the per-proto field presence
    rules (TCP: mac, no out; ICMP: no ports)."""
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("event_id").cast("long").alias("k"),
        F.col("user_id").cast("long").alias("u"),
    )
    k, u = F.col("k"), F.col("u")
    head = F.format_string(
        "kernel:: Shorewall:r%d:%s:IN=em%d",
        k % 4,
        F.when(k % 2 == 0, F.lit("REJECT")).otherwise(F.lit("DROP")),
        k % 4 + 1,
    )
    src = F.format_string("10.1.%d.%d", u % 256, k % 254 + 1)
    dst = F.format_string("10.2.%d.%d", k % 256, u % 254 + 1)
    mid = F.format_string("LEN=%d TOS=0x00 PREC=0x00 TTL=63 ID=%d", k % 1400 + 28, k % 65536)
    tcp = F.format_string(
        "%s OUT= MAC=aa:bb:cc:00:00:%02d SRC=%s DST=%s %s DF PROTO=TCP SPT=%d DPT=%d WINDOW=65535",
        head, k % 100, src, dst, mid, k % 64512 + 1024, k % 1024,
    )
    udp = F.format_string(
        "%s OUT=em%d SRC=%s DST=%s %s PROTO=UDP SPT=%d DPT=%d LEN=37",
        head, k % 5 + 1, src, dst, mid, k % 64512 + 1024, k % 1024,
    )
    icmp = F.format_string(
        "%s OUT=em%d SRC=%s DST=%s %s PROTO=ICMP TYPE=8 CODE=0 ID=0 SEQ=%d",
        head, k % 5 + 1, src, dst, mid, k % 65536,
    )
    msg = F.when(k % 3 == 0, tcp).when(k % 3 == 1, udp).otherwise(icmp)
    parsed = _norm(ev.withColumn("u", u), _env(msg, k), F.format_string("sw-%d", k))
    s = F.col("shorewall")
    return parsed.select(
        "doc_id",
        F.col("parser").alias("parser"),
        s["fwproto"].alias("fwproto"),
        s["fwrule"].alias("fwrule"),
        s["fwtarget"].alias("fwtarget"),
        s["fwin"].alias("fwin"),
        s["fwout"].alias("fwout"),
        s["fwmac"].alias("fwmac"),
        s["fwsrc"].alias("fwsrc"),
        s["fwdst"].alias("fwdst"),
        s["fwspt"].alias("fwspt"),
        s["fwdpt"].alias("fwdpt"),
    )


def _oracle_shorewall() -> str:
    return """
    SELECT 'sw-' || event_id AS doc_id,
           CASE event_id % 3 WHEN 0 THEN 'shorewall_tcp' WHEN 1 THEN 'shorewall_udp' ELSE 'shorewall_icmp' END AS parser,
           CASE event_id % 3 WHEN 0 THEN 'TCP' WHEN 1 THEN 'UDP' ELSE 'ICMP' END AS fwproto,
           'r' || (event_id % 4) AS fwrule,
           CASE WHEN event_id % 2 = 0 THEN 'REJECT' ELSE 'DROP' END AS fwtarget,
           'em' || (event_id % 4 + 1) AS fwin,
           CASE WHEN event_id % 3 <> 0 THEN 'em' || (event_id % 5 + 1) END AS fwout,
           CASE WHEN event_id % 3 = 0 THEN printf('aa:bb:cc:00:00:%02d', event_id % 100) END AS fwmac,
           printf('10.1.%d.%d', user_id % 256, event_id % 254 + 1) AS fwsrc,
           printf('10.2.%d.%d', event_id % 256, user_id % 254 + 1) AS fwdst,
           CASE WHEN event_id % 3 <> 2 THEN event_id % 64512 + 1024 END AS fwspt,
           CASE WHEN event_id % 3 <> 2 THEN event_id % 1024 END AS fwdpt
    FROM events
    """


def q_envelope(spark: SparkSession, sf: str) -> DataFrame:
    """P5: rsyslog logstash envelope (PRI/version/timestamp/hostname/
    syslogtag/msg), incl. rows without a PRI header."""
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("event_id").cast("long").alias("k")
    )
    k = F.col("k")
    msg = F.format_string(
        "snoopy[%d]::  [uid:1 sid:1 tty:t cwd:/ filename:/bin/x]: run %d", k, k
    )
    with_pri = F.format_string(
        "<%d>1 2017-05-24T18:01:%02d.000000+02:00 host%d tag%d: - %s",
        k % 190 + 1, k % 60, k % 1000, k % 9, msg,
    )
    without_pri = F.format_string(
        "2017-05-24T18:01:%02d.000000+02:00 host%d tag%d: - %s",
        k % 60, k % 1000, k % 9, msg,
    )
    line = F.when(k % 4 == 0, without_pri).otherwise(with_pri)
    parsed = _norm(ev, line, F.format_string("env-%d", k))
    return parsed.select(
        "doc_id",
        F.col("pri").cast("long").alias("pri"),
        F.col("version").cast("long").alias("version"),
        F.col("hostname").alias("hostname"),
        F.col("syslogtag").alias("syslogtag"),
        F.col("timereported_raw").alias("timereported_raw"),
        F.col("parse_ok").cast("int").alias("parse_ok"),
    )


def _oracle_envelope() -> str:
    return """
    SELECT 'env-' || event_id AS doc_id,
           CASE WHEN event_id % 4 <> 0 THEN event_id % 190 + 1 END AS pri,
           CASE WHEN event_id % 4 <> 0 THEN 1 END AS version,
           'host' || (event_id % 1000) AS hostname,
           'tag' || (event_id % 9) || ':' AS syslogtag,
           printf('2017-05-24T18:01:%02d.000000+02:00', event_id % 60) AS timereported_raw,
           1 AS parse_ok
    FROM events
    """


def _route_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Shared mixed RAW corpus (torque/snoopy/lmod/slurm/junk with
    deterministic bad rows) in the pipeline input shape
    (doc_id, source, raw) — input to the counts family and the
    stream/batch parity query."""
    ev = _spread(
        spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("event_id").cast("long").alias("k")
        )
    )
    k = F.col("k")
    tq = F.format_string("torque: 06/28/2017 14:31:09;Q;%d.m.c.example.org;queue=q", k)
    tq_bad = F.format_string("torque: 06/28/2017 14:31:09;Q;%d;queue=q", k)  # bare job id
    sn = F.format_string("snoopy[%d]::  [uid:1 sid:1 tty:t cwd:/ filename:/bin/x]: x", k)
    lm = F.lit("lmod::  username=u, cluster=c, jobid=, userload=yes, module=a/b, fn=/f")
    su = F.format_string(
        "slurmctld: JobId=%d UserId=u(1) GroupId=g(2) Name=n JobState=COMPLETED "
        "Partition=p TimeLimit=1 StartTime=2024-01-01T00:00:00 "
        "EndTime=2024-01-01T01:00:00 NodeList=n1 NodeCnt=1 ProcCnt=1", k,
    )
    junk = F.format_string("random noise %d", k)
    b = k % 10
    msg = (
        F.when(b < 4, tq)
        .when(b == 4, tq_bad)
        .when(b < 7, sn)
        .when(b == 7, lm)
        .when(b == 8, su)
        .otherwise(junk)
    )
    source = (
        F.when(b < 5, "torque")
        .when(b < 7, "snoopy")
        .when(b == 7, "lmod")
        .when(b == 8, "slurm")
        .otherwise("junk")
    )
    return ev.select(
        F.format_string("rc-%d", k).alias("doc_id"),
        source.alias("source"),
        _env(msg, k).alias("raw"),
    )


def _route_parsed(spark: SparkSession, sf: str) -> DataFrame:
    """The raw route corpus through the full dispatch."""
    from hnormalise_spark.pipeline import normalise

    return normalise(_route_corpus(spark, sf))


def q_table_snapshots(spark: SparkSession, sf: str) -> DataFrame:
    """The snapshot-committed table layer (table.py — Iceberg writeTo
    when the jar exists, parquet + atomic manifest here) witnessed by
    the gate: commit snapshot v1 (even doc_ids), commit v2 (odd),
    then read v1 by TIME TRAVEL and the full table by committed-union,
    reporting per-view row count and key sum. Idempotent by the
    table's own resume contract — write_snapshot returns False when
    the id is already committed, so driver re-runs read the identical
    table instead of double-appending (the round-2 bug class this
    layer exists to prevent)."""
    from hnormalise_spark import table as T

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/hnorm_tableq_{tag}"
    T.write_snapshot(docs.filter(F.col("doc_id") % 2 == 0), path, "v1")
    T.write_snapshot(docs.filter(F.col("doc_id") % 2 == 1), path, "v2")
    v1 = T.read_snapshot(spark, path, "v1").agg(
        F.lit("v1").alias("view"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("n_chars").cast("long").alias("sum_n_chars"),
    )
    allv = T.read_committed(spark, path).agg(
        F.lit("all").alias("view"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("n_chars").cast("long").alias("sum_n_chars"),
    )
    return v1.unionByName(allv)


def _oracle_table_snapshots() -> str:
    return """
    SELECT 'v1' AS view, count(*)::BIGINT AS n_rows,
           sum(doc_id)::BIGINT AS sum_doc_id,
           sum(n_chars)::BIGINT AS sum_n_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 'all', count(*)::BIGINT, sum(doc_id)::BIGINT, sum(n_chars)::BIGINT
    FROM documents
    """


def q_ops_triage(spark: SparkSession, sf: str) -> DataFrame:
    """Composed flagship #6 — the OPERATIONAL loop behind the
    reference's fixed dispatch list (Parser.hs:66-78): full
    first-match-wins parse of the mixed corpus -> failure stream (a
    plain filter on parse_ok, which is nondeterministic so the
    optimizer cannot push it into the parse) -> Drain-style template
    mining over the raw failure bytes. The two templates this corpus
    yields ARE its two failure constructions (junk noise + bare-number
    torque job id), so a hash-green row proves parse routing and
    masking agree end to end. Scale: the parse is the pipeline's scan
    stage and mine_templates' shuffle carries only (template, partial
    count) pairs."""
    from hnormalise_spark.ops import logmine as LM
    from hnormalise_spark.pipeline import normalise

    parsed = normalise(_route_corpus(spark, sf))
    return LM.mine_templates(parsed.filter(~F.col("parse_ok")), "raw")


def _oracle_ops_triage() -> str:
    t_junk = ("<<N>><N> <N>-<N>-<N>T<N>:<N>:<N>.<N>+<N>:<N> "
              "node<N>.c<N>.example.org tag - random noise <N>")
    t_tq = ("<<N>><N> <N>-<N>-<N>T<N>:<N>:<N>.<N>+<N>:<N> "
            "node<N>.c<N>.example.org tag - torque: "
            "<N>/<N>/<N> <N>:<N>:<N>;Q;<N>;queue=q")
    return f"""
    WITH fails AS (
      SELECT CASE WHEN event_id % 10 = 9 THEN '{t_junk}'
                  ELSE '{t_tq}' END AS template
      FROM events WHERE event_id % 10 IN (4, 9)),
    c AS (SELECT template, count(*)::BIGINT AS n_lines FROM fails GROUP BY 1)
    SELECT template, n_lines,
           floor(n_lines * 1000000.0 / sum(n_lines) OVER () + 0.5)::BIGINT
             AS share_ppm
    FROM c
    """


def q_stream_route_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming correctness witness: the SAME mixed corpus as
    route_counts, replayed through Structured Streaming — file source,
    availableNow trigger, the full foreachBatch fan-out
    (streaming.start_pipeline) — then the per-batch count partitions
    re-summed. Sharing route_counts' oracle makes the stream/batch
    parity claim a driver-verified hash-green row instead of a
    pytest-only assertion: total counts == SUM over micro-batch counts
    == the batch oracle, the reference's running-counter semantics
    (ZeroMQ.hs:69-111)."""
    from hnormalise_spark.streaming import start_pipeline

    tmp = tempfile.mkdtemp(prefix="hn_stream_rc_")
    try:
        in_dir, out_dir = os.path.join(tmp, "in"), os.path.join(tmp, "out")
        _route_corpus(spark, sf).write.mode("overwrite").parquet(in_dir)
        q = start_pipeline(
            spark, in_dir, out_dir, available_now=True, input_format="raw_parquet"
        )
        q.awaitTermination()
        return _detached(
            spark.read.parquet(os.path.join(out_dir, "counts"))
            .groupBy("source", "parser", "parse_ok")
            .agg(F.sum("n").alias("n"))
            .select(
                "source",
                "parser",
                F.col("parse_ok").cast("int").alias("parse_ok"),
                F.col("n").cast("long").alias("n"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _detached(df: DataFrame) -> DataFrame:
    """``df`` computed now and held by the executors, so the stream
    witnesses can delete the scratch directory it was read from."""
    return df.localCheckpoint(eager=True)


def q_stream_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Third streaming correctness witness — the durable-sketch path:
    events replayed as a TWO-file stream (maxFilesPerTrigger=1, so
    the register merge happens across REAL micro-batches), each
    batch appending its partial HLL registers as a committed
    snapshot; read-time union+re-max then the estimator. By the max
    merge law the result must equal the whole-corpus sketch — which
    is exactly what the DuckDB oracle computes — so the driver gate
    witnesses streaming snapshot append + replay-safe merge, not
    just transform parity."""
    from hnormalise_spark.ops import sketches as SK
    from hnormalise_spark.streaming import read_hll_sketch, streaming_hll_sketch

    tmp = tempfile.mkdtemp(prefix="hn_stream_hll_")
    try:
        in_dir, sk_dir = os.path.join(tmp, "in"), os.path.join(tmp, "hll")
        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_type", F.col("user_id").cast("long").alias("user_id")
        )
        # two files -> two micro-batches: split on a deterministic hash
        for i in range(2):
            ev.filter(F.crc32(F.col("user_id").cast("string")) % 2 == i).coalesce(
                1
            ).write.mode("append").parquet(in_dir)
        q = streaming_hll_sketch(
            spark, in_dir, sk_dir, group_col="event_type",
            value_col="user_id", p=6,
        )
        q.awaitTermination()
        merged = read_hll_sketch(spark, sk_dir)
        est = SK.hll_estimate(merged, ["event_type"], p=6)
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").cast("long").alias("n_exact")
        )
        return _detached(
            est.join(F.broadcast(exact), "event_type").select(
                "event_type", "n_exact", "est_distinct_x1e3"
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Second streaming correctness witness: stateful exact-dedup
    (applyInPandasWithState, streaming.streaming_dedup_rows) over the
    documents table replayed as a file stream — one emitted row per
    fingerprint carrying the kept doc (string-min doc_id), its text,
    and the suppressed-duplicate count. The corpus is written as ONE
    file so availableNow lands in a single micro-batch, making the
    kept id the GLOBAL min and n_batch_dups the global count-1 —
    batch-equal semantics a DuckDB GROUP BY replays exactly (md5 of
    the same lower/trim/space-collapse normalization both sides)."""
    from hnormalise_spark.ops.dedup import normalized_text
    from hnormalise_spark.streaming import streaming_dedup_rows

    tmp = tempfile.mkdtemp(prefix="hn_stream_dd_")
    try:
        in_dir, out_dir = os.path.join(tmp, "in"), os.path.join(tmp, "out")
        (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("text").isNotNull())
            .select(
                F.col("doc_id").cast("string").alias("doc_id"),
                F.col("text").alias("raw"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(in_dir)
        )
        rows = (
            spark.readStream.schema("doc_id string, raw string")
            .parquet(in_dir)
            .select(
                "doc_id",
                "raw",
                F.md5(normalized_text(F.col("raw"))).alias("fingerprint"),
            )
        )
        q = streaming_dedup_rows(rows, out_dir)
        q.awaitTermination()
        return _detached(
            spark.read.parquet(os.path.join(out_dir, "deduped")).select(
                "fingerprint",
                "doc_id",
                "raw",
                F.col("n_batch_dups").cast("long").alias("n_batch_dups"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _oracle_stream_dedup() -> str:
    return r"""
    WITH d AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS raw,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
               AS fingerprint
      FROM documents WHERE text IS NOT NULL)
    SELECT fingerprint,
           min(doc_id) AS doc_id,
           arg_min(raw, doc_id) AS raw,
           (count(*) - 1)::BIGINT AS n_batch_dups
    FROM d GROUP BY fingerprint
    """


def q_route_counts(spark: SparkSession, sf: str) -> DataFrame:
    """A1 + routing: first-match-wins dispatch over a mixed corpus with
    deterministic junk, aggregated per (source, parser, parse_ok) —
    the reference's success/fail counters generalized."""
    from hnormalise_spark.pipeline import counts

    return counts(_route_parsed(spark, sf)).select(
        "source",
        "parser",
        F.col("parse_ok").cast("int").alias("parse_ok"),
        F.col("n").cast("long").alias("n"),
    )


def q_route_counts_salted(spark: SparkSession, sf: str) -> DataFrame:
    """A1 under explicit skew handling: the SAME counts computed by the
    two-stage salted aggregate (partial per map-task salt bucket, final
    re-sum over keys — pipeline.counts_salted). Shares route_counts'
    oracle: a green row proves salting never changes values, pinning
    the north rule's skew strategy with the correctness gate instead of
    a pytest alone."""
    from hnormalise_spark.pipeline import counts_salted

    return counts_salted(_route_parsed(spark, sf), salt=8).select(
        "source",
        "parser",
        F.col("parse_ok").cast("int").alias("parse_ok"),
        F.col("n").cast("long").alias("n"),
    )


def _oracle_route_counts() -> str:
    return """
    WITH c AS (
      SELECT CASE WHEN event_id % 10 < 5 THEN 'torque'
                  WHEN event_id % 10 < 7 THEN 'snoopy'
                  WHEN event_id % 10 = 7 THEN 'lmod'
                  WHEN event_id % 10 = 8 THEN 'slurm'
                  ELSE 'junk' END AS source,
             CASE WHEN event_id % 10 < 4 THEN 'torque_queue'
                  WHEN event_id % 10 = 4 THEN NULL
                  WHEN event_id % 10 < 7 THEN 'snoopy'
                  WHEN event_id % 10 = 7 THEN 'lmod_load'
                  WHEN event_id % 10 = 8 THEN 'slurm_accounting'
                  ELSE NULL END AS parser,
             CASE WHEN event_id % 10 = 4 OR event_id % 10 > 8 THEN 0 ELSE 1 END AS parse_ok
      FROM events)
    SELECT source, parser, parse_ok, COUNT(*)::BIGINT AS n
    FROM c GROUP BY source, parser, parse_ok
    """


def q_route_counts_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-level counts reporting: ROLLUP over (source, parser,
    parse_ok) — per-parser, per-source, and grand-total rows in ONE
    aggregation pass (Spark plans rollup as a single expand+hash-agg,
    not three scans). grouping_id disambiguates rolled-up nulls from
    the genuine null parser of failure rows."""
    # the counts frame is ~15 rows; materialize it so the rollup's
    # expand+agg plans over 15 rows instead of re-analyzing the whole
    # parse DAG behind them (measured 10.9 s -> ~route_counts cost)
    base = q_route_counts(spark, sf).localCheckpoint()
    gid = F.grouping_id()
    r = base.rollup("source", "parser", "parse_ok").agg(
        gid.alias("gid"), F.sum("n").alias("n")
    )
    return r.select(
        F.col("gid").cast("long").alias("gid"),
        F.when(F.col("gid").bitwiseAND(4) > 0, F.lit("(all)"))
        .otherwise(F.col("source"))
        .alias("source"),
        F.when(F.col("gid").bitwiseAND(2) > 0, F.lit("(all)"))
        .otherwise(F.coalesce(F.col("parser"), F.lit("(none)")))
        .alias("parser"),
        F.when(F.col("gid").bitwiseAND(1) > 0, F.lit(-1))
        .otherwise(F.col("parse_ok"))
        .cast("long")
        .alias("parse_ok"),
        F.col("n").cast("long").alias("n"),
    )


def _oracle_route_counts_rollup() -> str:
    return f"""
    WITH base AS ({_oracle_route_counts()}),
    r AS (
      SELECT source, parser, parse_ok, sum(n)::BIGINT AS n,
             GROUPING(source, parser, parse_ok) AS gid
      FROM base GROUP BY ROLLUP(source, parser, parse_ok))
    SELECT gid::BIGINT AS gid,
           CASE WHEN (gid & 4) > 0 THEN '(all)' ELSE source END AS source,
           CASE WHEN (gid & 2) > 0 THEN '(all)'
                ELSE coalesce(parser, '(none)') END AS parser,
           (CASE WHEN (gid & 1) > 0 THEN -1 ELSE parse_ok END)::BIGINT
             AS parse_ok,
           n
    FROM r
    """


def q_walltime_memory(spark: SparkSession, sf: str) -> DataFrame:
    """T1+T2+T6: walltime/memory/cputime scalar conversions over
    lineitem-derived strings (all four walltime arities, all units &
    case mixes)."""
    from hnormalise_spark.parsing import common as C

    li = _spread(
        spark.read.parquet(f"{sf}/lineitem.parquet").select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("k")
        )
    )
    k = F.col("k")
    wt = (
        F.when(k % 4 == 0, F.format_string("%d", k % 100000))
        .when(k % 4 == 1, F.format_string("%d:%d", k % 60, (k + 1) % 60))
        .when(k % 4 == 2, F.format_string("%d:%d:%d", k % 24, k % 60, (k + 1) % 60))
        .otherwise(F.format_string("%d:%d:%d:%d", k % 7, k % 24, k % 60, (k + 1) % 60))
    )
    unit = (
        F.when(k % 4 == 0, "b").when(k % 4 == 1, "Kb").when(k % 4 == 2, "mB").otherwise(F.lit("GB"))
    )
    mem = F.concat((k % 5000).cast("string"), unit)
    return li.select(
        F.format_string("wm-%d", k).alias("doc_id"),
        C.walltime_seconds(wt).alias("walltime_sec"),
        C.memory_bytes(mem).alias("mem_bytes"),
        C.cputime_seconds(F.format_string("%d", k % 7777)).alias("cputime_sec"),
    )


def _oracle_walltime_memory() -> str:
    return """
    WITH li AS (SELECT l_orderkey * 10 + l_linenumber AS k FROM lineitem)
    SELECT 'wm-' || k AS doc_id,
           CASE k % 4
             WHEN 0 THEN k % 100000
             WHEN 1 THEN (k % 60) * 60 + (k + 1) % 60
             WHEN 2 THEN (k % 24) * 3600 + (k % 60) * 60 + (k + 1) % 60
             ELSE (k % 7) * 86400 + (k % 24) * 3600 + (k % 60) * 60 + (k + 1) % 60
           END AS walltime_sec,
           (k % 5000) * CASE k % 4 WHEN 0 THEN 1 WHEN 1 THEN 1024
                                   WHEN 2 THEN 1048576 ELSE 1073741824 END AS mem_bytes,
           k % 7777 AS cputime_sec
    FROM li
    """


def q_host_list(spark: SparkSession, sf: str) -> DataFrame:
    """T8+T9: exec_host core-range expansion and same-host merge.
    Even rows: one host with ranges+singles; odd rows: the same host
    repeated m times with one core each (must merge)."""
    from hnormalise_spark.parsing import common as C

    li = _spread(
        spark.read.parquet(f"{sf}/lineitem.parquet").select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("k")
        )
    )
    k = F.col("k")
    lo = k % 10
    width = k % 6  # range lo..lo+width
    ranged = F.format_string("n%d.ex/%d-%d,%d", k % 100, lo, lo + width, lo + width + 2)
    m = k % 5 + 2
    repeated = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("long"), m - 1),
            lambda j: F.format_string("n%d.ex/%d", k % 100, j),
        ),
        "+",
    )
    # materialize the host_list result ONCE: referencing the expression
    # from three output columns would re-evaluate the whole (HOF,
    # interpreted) aggregation per reference
    li = li.withColumn(
        "_hosts", C.host_list(F.when(k % 2 == 0, ranged).otherwise(repeated))
    )
    hosts = F.col("_hosts")
    return li.select(
        F.format_string("hl-%d", k).alias("doc_id"),
        F.size(hosts).cast("long").alias("n_hosts"),
        F.aggregate(
            hosts, F.lit(0).cast("long"), lambda a, h: a + F.size(h["cores"])
        ).alias("total_cores"),
        F.element_at(F.element_at(hosts, 1)["cores"], -1).cast("long").alias("max_core_first_host"),
    )


def _oracle_host_list() -> str:
    return """
    WITH li AS (SELECT l_orderkey * 10 + l_linenumber AS k FROM lineitem)
    SELECT 'hl-' || k AS doc_id,
           1 AS n_hosts,
           CASE WHEN k % 2 = 0 THEN (k % 6) + 2 ELSE (k % 5) + 2 END AS total_cores,
           CASE WHEN k % 2 = 0 THEN (k % 10) + (k % 6) + 2 ELSE (k % 5) + 1 END AS max_core_first_host
    FROM li
    """


def q_enrich_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule enrichment: broadcast host→cluster→site join onto
    parsed rows (plan: BroadcastHashJoin, no fact-side shuffle)."""
    from hnormalise_spark.enrich import enrich, synth_lookup_tables

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("event_id").cast("long").alias("k")
    )
    k = F.col("k")
    msg = F.format_string(
        "snoopy[%d]::  [uid:%d sid:1 tty:t cwd:/ filename:/bin/x]: x", k, k % 500
    )
    parsed = _norm(ev, _env(msg, k), F.format_string("en-%d", k))
    hm, cm, um = synth_lookup_tables(spark)
    out = enrich(parsed, hm, cm, um)
    return out.select(
        "doc_id",
        F.col("hostname").alias("hostname"),
        F.col("host_cluster").alias("host_cluster"),
        F.col("cluster_site").alias("cluster_site"),
        F.col("uid_username").alias("uid_username"),
    )


def _oracle_enrich() -> str:
    return """
    SELECT 'en-' || event_id AS doc_id,
           printf('node%04d.c%d.example.org', event_id % 500, (event_id % 500) % 7) AS hostname,
           'c' || ((event_id % 500) % 7) AS host_cluster,
           CASE WHEN ((event_id % 500) % 7) % 2 = 0 THEN 'site-a' ELSE 'site-b' END AS cluster_site,
           printf('user%03d', event_id % 500) AS uid_username
    FROM events
    """


def q_json_encode_snoopy(spark: SparkSession, sf: str) -> DataFrame:
    """J1: the reference-shaped output JSON line (aeson parity) for
    snoopy rows, reproduced in the oracle by string concatenation."""
    from hnormalise_spark import jsonout

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("event_id").cast("long").alias("k")
    )
    k = F.col("k")
    msg = F.format_string(
        "snoopy[%d]::  [uid:%d sid:%d tty:(none) cwd:/ filename:/bin/t%d]: t%d -n %d",
        k, k % 1000, k % 777, k % 9, k % 9, k,
    )
    parsed = _norm(ev, _env(msg, k), F.format_string("js-%d", k))
    return parsed.select("doc_id", jsonout.encode_normalised().alias("json"))


def _oracle_json_snoopy() -> str:
    return """
    SELECT 'js-' || event_id AS doc_id,
           '{"message":"snoopy[' || event_id || ']::  [uid:' || (event_id % 1000)
           || ' sid:' || (event_id % 777) || ' tty:(none) cwd:/ filename:/bin/t' || (event_id % 9)
           || ']: t' || (event_id % 9) || ' -n ' || event_id
           || '","syslog_abspri":' || (event_id % 190 + 1)
           || ',"syslog_version":1,"program":"snoopy","@source_host":"'
           || printf('node%04d.c%d.example.org', event_id % 500, (event_id % 500) % 7)
           || '","snoopy":{"pid":' || event_id
           || ',"uid":' || (event_id % 1000)
           || ',"username":null,"sid":' || (event_id % 777)
           || ',"tty":"(none)","cwd":"/","executable":"/bin/t' || (event_id % 9)
           || '","command":"t' || (event_id % 9) || ' -n ' || event_id || '"}}' AS json
    FROM events
    """


# snoopy pid in q_json: pid printed as %d of k (not k%65536) — keep k small via events ids.


def q_json_fields_projection(spark: SparkSession, sf: str) -> DataFrame:
    """J1/P7: config-driven output-field projection (fields config,
    Json.hs:82-96) — payload member first, then the configured
    (out_key <- envelope field) pairs, unknown fields rendered null,
    inputname-class fields rendered ''."""
    from hnormalise_spark import jsonout

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("event_id").cast("long").alias("k")
    )
    k = F.col("k")
    msg = F.format_string(
        "snoopy[%d]::  [uid:%d sid:%d tty:(none) cwd:/x filename:/bin/p%d]: p%d go",
        k % 9999, k % 500, k % 333, k % 7, k % 7,
    )
    parsed = _norm(ev, _env(msg, k), F.format_string("fp-%d", k))
    fields = [
        ("message", "msg"),
        ("host", "hostname"),
        ("level", "pri"),
        ("input", "inputname"),     # logstash path leaves it '' (Json.hs:95)
        ("mystery", "no_such_field"),  # unknown -> null
    ]
    return parsed.select(
        "doc_id", jsonout.encode_normalised(fields).alias("json")
    )


def _oracle_json_fields() -> str:
    return """
    SELECT 'fp-' || event_id AS doc_id,
           '{"snoopy":{"pid":' || (event_id % 9999)
           || ',"uid":' || (event_id % 500)
           || ',"username":null,"sid":' || (event_id % 333)
           || ',"tty":"(none)","cwd":"/x","executable":"/bin/p' || (event_id % 7)
           || '","command":"p' || (event_id % 7) || ' go"}'
           || ',"message":"snoopy[' || (event_id % 9999) || ']::  [uid:' || (event_id % 500)
           || ' sid:' || (event_id % 333) || ' tty:(none) cwd:/x filename:/bin/p' || (event_id % 7)
           || ']: p' || (event_id % 7) || ' go"'
           || ',"host":"' || printf('node%04d.c%d.example.org', event_id % 500, (event_id % 500) % 7) || '"'
           || ',"level":' || (event_id % 190 + 1)
           || ',"input":""'
           || ',"mystery":null}' AS json
    FROM events
    """


def q_json_input(spark: SparkSession, sf: str) -> DataFrame:
    """P4: rsyslog %jsonmesg% JSON-mode input (normaliseJsonInput) —
    from_json envelope, msg-only payload parse; malformed JSON and
    missing mandatory members route to failure."""
    from hnormalise_spark.pipeline import normalise_json

    ev = _spread(
        spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("event_id").cast("long").alias("k")
        )
    )
    k = F.col("k")
    msg = F.format_string(
        "snoopy[%d]::  [uid:%d sid:%d tty:(none) cwd:/w%d filename:/bin/b%d]: b%d run %d",
        k % 65536, k % 1000, k % 777, k % 50, k % 9, k % 9, k,
    )
    good = F.format_string(
        '{"msg":"%s","timereported":"2017-05-24T18:01:%02d.000000+02:00",'
        '"hostname":"h%d","syslogtag":"t%d:","inputname":"imtcp","fromhost":"h%d",'
        '"fromhost-ip":"10.0.0.%d","pri":%d,"version":1,"syslogfacility":"1",'
        '"syslogseverity":"6","timegenerated":"2017-05-24T18:01:00.000000+02:00",'
        '"programname":"snoopy","protocol-version":"0","app-name":"snoopy","procid":"-"}',
        msg, k % 60, k % 100, k % 9, k % 100, k % 250, k % 190 + 1,
    )
    missing = F.format_string(  # no mandatory app-name → aeson decode fails
        '{"msg":"%s","timereported":"2017-05-24T18:01:00.000000+02:00",'
        '"hostname":"h%d","syslogtag":"t:","inputname":"imtcp","fromhost":"h%d",'
        '"fromhost-ip":"10.0.0.1","pri":1,"syslogfacility":"1","syslogseverity":"6",'
        '"programname":"snoopy","protocol-version":"0","procid":"-"}',
        msg, k % 100, k % 9,
    )
    badjson = F.format_string("not json at all %d", k)
    line = F.when(k % 7 == 0, missing).when(k % 7 == 1, badjson).otherwise(good)
    parsed = normalise_json(
        ev.select(F.format_string("ji-%d", k).alias("doc_id"), line.alias("raw"))
    )
    s = F.col("snoopy")
    return parsed.select(
        "doc_id",
        F.col("parse_ok").cast("int").alias("parse_ok"),
        F.col("pri").cast("long").alias("pri"),
        F.col("hostname").alias("hostname"),
        F.col("fromhost_ip").alias("fromhost_ip"),
        F.col("programname").alias("programname"),
        s["pid"].cast("long").alias("pid"),
        s["command"].alias("command"),
    )


def _oracle_json_input() -> str:
    return """
    SELECT 'ji-' || event_id AS doc_id,
           CASE WHEN event_id % 7 IN (0, 1) THEN 0 ELSE 1 END AS parse_ok,
           CASE WHEN event_id % 7 NOT IN (0, 1) THEN event_id % 190 + 1 END AS pri,
           CASE WHEN event_id % 7 NOT IN (0, 1) THEN 'h' || (event_id % 100) END AS hostname,
           CASE WHEN event_id % 7 NOT IN (0, 1) THEN '10.0.0.' || (event_id % 250) END AS fromhost_ip,
           CASE WHEN event_id % 7 NOT IN (0, 1) THEN 'snoopy' END AS programname,
           CASE WHEN event_id % 7 NOT IN (0, 1) THEN event_id % 65536 END AS pid,
           CASE WHEN event_id % 7 NOT IN (0, 1)
                THEN printf('b%d run %d', event_id % 9, event_id) END AS command
    FROM events
    """


def _slurm_line(k: F.Column, c: F.Column) -> F.Column:
    state = (
        F.when(k % 5 == 0, F.lit("COMPLETED"))
        .when(k % 5 == 1, F.lit("FAILED"))
        .when(k % 5 == 2, F.lit("TIMEOUT"))
        .when(k % 5 == 3, F.lit("NODE_FAIL"))
        .otherwise(F.format_string("CANCELLED by %d", c % 10000))
    )
    tl = F.when(k % 7 == 0, F.lit("UNLIMITED")).otherwise((k % 1440 + 1).cast("string"))
    nodes = (
        F.when(k % 4 == 0, F.format_string("c%d-[%03d-%03d]", k % 7, k % 50 + 1, k % 50 + 1 + k % 5))
        .when(k % 4 == 1, F.format_string("gpu%d", k))
        .when(k % 4 == 2, F.format_string("a[%d],b[%d-%d]", k % 9, k % 20, k % 20 + k % 3))
        .otherwise(F.lit("(null)"))
    )
    ncnt = (
        F.when(k % 4 == 0, k % 5 + 1)
        .when(k % 4 == 1, F.lit(1).cast("long"))
        .when(k % 4 == 2, k % 3 + 2)
        .otherwise(F.lit(0).cast("long"))
    )
    return F.format_string(
        "slurmctld: JobId=%d UserId=user%03d(%d) GroupId=grp%d(%d) "
        "Name=job_%d JobState=%s Partition=p%d TimeLimit=%s "
        "StartTime=2024-01-%02dT%02d:%02d:00 EndTime=2024-01-%02dT%02d:%02d:00 "
        "NodeList=%s NodeCnt=%d ProcCnt=%d WorkDir=/scratch/u%d",
        k, c % 500, c % 10000, c % 50, c % 50 + 3000,
        k, state, k % 6, tl,
        k % 28 + 1, k % 10, k % 60,
        k % 28 + 1, k % 10 + k % 13 + 1, k % 60,
        nodes, ncnt, ncnt * (k % 16 + 1), c % 500,
    )


def q_parse_slurm(spark: SparkSession, sf: str) -> DataFrame:
    """North-star "Slurm accounting" family (parsing/slurm.py): KV
    record parse, CANCELLED-by normalisation, UNLIMITED time limits,
    compressed-hostlist expansion (ranges, padding, multi-group,
    (null)), derived duration. A pass proves the parser exactly inverts
    the construction for every variant."""
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_custkey").cast("long").alias("c"),
    )
    k, c = F.col("k"), F.col("c")
    parsed = _norm(orders, _env(_slurm_line(k, c), k), F.format_string("su-%d", k))
    s = F.col("slurm")
    return parsed.select(
        "doc_id",
        F.col("parse_ok").cast("int").alias("parse_ok"),
        s["job_id"].alias("job_id"),
        s["user"].alias("job_user"),
        s["uid"].alias("uid"),
        s["job_state"].alias("job_state"),
        s["cancelled_by"].alias("cancelled_by"),
        s["partition"].alias("partition"),
        s["time_limit_minutes"].alias("time_limit_minutes"),
        F.date_format(s["start_time"], "yyyy-MM-dd'T'HH:mm:ss").alias("start_iso"),
        s["duration_seconds"].alias("duration_seconds"),
        F.size(s["node_list"]).cast("long").alias("n_nodes"),
        # try_: the (null)-hostlist rows carry an EMPTY array; ANSI
        # element_at throws on it instead of yielding null
        F.try_element_at(s["node_list"], F.lit(1)).alias("first_node"),
        s["node_cnt"].alias("node_cnt"),
        s["proc_cnt"].alias("proc_cnt"),
    )


def _oracle_slurm() -> str:
    return """
    SELECT 'su-' || o_orderkey AS doc_id,
           1 AS parse_ok,
           o_orderkey AS job_id,
           printf('user%03d', o_custkey % 500) AS job_user,
           (o_custkey % 10000)::BIGINT AS uid,
           CASE o_orderkey % 5 WHEN 0 THEN 'COMPLETED' WHEN 1 THEN 'FAILED'
                WHEN 2 THEN 'TIMEOUT' WHEN 3 THEN 'NODE_FAIL'
                ELSE 'CANCELLED' END AS job_state,
           CASE WHEN o_orderkey % 5 = 4 THEN (o_custkey % 10000)::BIGINT END AS cancelled_by,
           'p' || (o_orderkey % 6) AS partition,
           CASE WHEN o_orderkey % 7 <> 0 THEN (o_orderkey % 1440 + 1)::BIGINT END AS time_limit_minutes,
           printf('2024-01-%02dT%02d:%02d:00', o_orderkey % 28 + 1,
                  o_orderkey % 10, o_orderkey % 60) AS start_iso,
           ((o_orderkey % 13 + 1) * 3600)::BIGINT AS duration_seconds,
           (CASE o_orderkey % 4 WHEN 0 THEN o_orderkey % 5 + 1 WHEN 1 THEN 1
                 WHEN 2 THEN o_orderkey % 3 + 2 ELSE 0 END)::BIGINT AS n_nodes,
           CASE o_orderkey % 4
                WHEN 0 THEN printf('c%d-%03d', o_orderkey % 7, o_orderkey % 50 + 1)
                WHEN 1 THEN 'gpu' || o_orderkey
                WHEN 2 THEN 'a' || (o_orderkey % 9) END AS first_node,
           (CASE o_orderkey % 4 WHEN 0 THEN o_orderkey % 5 + 1 WHEN 1 THEN 1
                 WHEN 2 THEN o_orderkey % 3 + 2 ELSE 0 END)::BIGINT AS node_cnt,
           ((CASE o_orderkey % 4 WHEN 0 THEN o_orderkey % 5 + 1 WHEN 1 THEN 1
                 WHEN 2 THEN o_orderkey % 3 + 2 ELSE 0 END)
            * (o_orderkey % 16 + 1))::BIGINT AS proc_cnt
    FROM orders
    """


def q_slurm_partition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """parse → aggregate over the Slurm family: per (partition,
    job_state) job counts, consumed node-seconds, distinct users, total
    allocated cores — the cluster-utilisation rollup an accounting log
    exists to answer. One partial-aggregated shuffle of ~30 groups on
    top of the shuffle-free parse."""
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_custkey").cast("long").alias("c"),
    )
    k, c = F.col("k"), F.col("c")
    parsed = _norm(orders, _env(_slurm_line(k, c), k), F.format_string("su-%d", k))
    s = F.col("slurm")
    return (
        parsed.groupBy(
            s["partition"].alias("partition"), s["job_state"].alias("job_state")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_jobs"),
            F.sum(s["duration_seconds"] * s["node_cnt"]).cast("long").alias("node_seconds"),
            F.count_distinct(s["uid"]).cast("long").alias("n_users"),
            F.sum(s["proc_cnt"]).cast("long").alias("total_cores"),
        )
    )


def _oracle_slurm_partition_stats() -> str:
    return """
    WITH s AS (
      SELECT 'p' || (o_orderkey % 6) AS partition,
             CASE o_orderkey % 5 WHEN 0 THEN 'COMPLETED' WHEN 1 THEN 'FAILED'
                  WHEN 2 THEN 'TIMEOUT' WHEN 3 THEN 'NODE_FAIL'
                  ELSE 'CANCELLED' END AS job_state,
             (o_orderkey % 13 + 1) * 3600 AS duration_seconds,
             CASE o_orderkey % 4 WHEN 0 THEN o_orderkey % 5 + 1 WHEN 1 THEN 1
                  WHEN 2 THEN o_orderkey % 3 + 2 ELSE 0 END AS node_cnt,
             o_custkey % 10000 AS uid,
             o_orderkey % 16 + 1 AS ppn
      FROM orders)
    SELECT partition, job_state,
           COUNT(*)::BIGINT AS n_jobs,
           SUM(duration_seconds * node_cnt)::BIGINT AS node_seconds,
           COUNT(DISTINCT uid)::BIGINT AS n_users,
           SUM(node_cnt * ppn)::BIGINT AS total_cores
    FROM s GROUP BY partition, job_state
    """


def q_slurm_cluster_report(spark: SparkSession, sf: str) -> DataFrame:
    """Composed flagship #3 — the north rule's full chain in ONE
    oracled query: Slurm accounting parse → broadcast host→cluster→site
    enrichment (BroadcastHashJoin, fact side never shuffles) → per-site
    utilisation rollup (jobs, node-seconds, completion fraction,
    distinct users). The only shuffle in the whole plan is the final
    ~2-group aggregate."""
    from hnormalise_spark.enrich import enrich, synth_lookup_tables

    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_custkey").cast("long").alias("c"),
    )
    k, c = F.col("k"), F.col("c")
    parsed = _norm(orders, _env(_slurm_line(k, c), k), F.format_string("su-%d", k))
    hm, cm, um = synth_lookup_tables(spark)
    out = enrich(parsed, hm, cm)
    s = F.col("slurm")
    return (
        out.groupBy(F.col("cluster_site").alias("site"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_jobs"),
            F.sum(s["duration_seconds"] * s["node_cnt"]).cast("long").alias("node_seconds"),
            F.sum((s["job_state"] == "COMPLETED").cast("long")).cast("long").alias("n_completed"),
            F.count_distinct(s["uid"]).cast("long").alias("n_users"),
        )
    )


def _oracle_slurm_cluster_report() -> str:
    # envelope host is node(k%500).c((k%500)%7); cluster c<id> maps to
    # site-a for even id (enrich.synth_lookup_tables)
    return """
    WITH s AS (
      SELECT CASE WHEN ((o_orderkey % 500) % 7) % 2 = 0
                  THEN 'site-a' ELSE 'site-b' END AS site,
             (o_orderkey % 13 + 1) * 3600 AS duration_seconds,
             CASE o_orderkey % 4 WHEN 0 THEN o_orderkey % 5 + 1 WHEN 1 THEN 1
                  WHEN 2 THEN o_orderkey % 3 + 2 ELSE 0 END AS node_cnt,
             CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS completed,
             o_custkey % 10000 AS uid
      FROM orders)
    SELECT site,
           COUNT(*)::BIGINT AS n_jobs,
           SUM(duration_seconds * node_cnt)::BIGINT AS node_seconds,
           SUM(completed)::BIGINT AS n_completed,
           COUNT(DISTINCT uid)::BIGINT AS n_users
    FROM s GROUP BY site
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: mixed-corpus parse → route → per-(source,parser,ok)
    counts on sf0.001 (the reference's end-to-end dataflow)."""
    return q_route_counts(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# grok compiler (north star: "vectorized regex/grok equivalents") — grok
# pattern strings compiled to ONE JVM regex, fields extracted as typed
# columns; oracles reconstruct every field by arithmetic (never re-parse)
# ---------------------------------------------------------------------------


def q_grok_sshd(spark: SparkSession, sf: str) -> DataFrame:
    """Grok end-to-end: sshd accept lines described by a grok pattern,
    compiled to one Java regex (parsing/grok.py) and extracted as typed
    JVM columns. A pass proves the compiled regex exactly inverts the
    line construction."""
    from hnormalise_spark.parsing.grok import grok_extract

    ev = _spread(
        spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("event_id").cast("long").alias("k"),
            F.col("user_id").cast("long").alias("u"),
        )
    )
    k, u = F.col("k"), F.col("u")
    line = F.format_string(
        "Accepted %s for user%03d from 10.%d.%d.%d port %d ssh2",
        F.when(k % 3 == 0, F.lit("password")).otherwise(F.lit("publickey")),
        u % 500, k % 223 + 1, u % 250, (k * 7) % 250, k % 60000 + 1024,
    )
    raw = ev.select(F.format_string("ssh-%d", k).alias("doc_id"), line.alias("raw"))
    out = grok_extract(
        raw,
        "raw",
        "Accepted %{WORD:method} for %{USERNAME:ssh_user} from "
        "%{IPV4:src_ip} port %{POSINT:src_port:int} ssh2",
    )
    return out.select(
        "doc_id",
        "method",
        "ssh_user",
        "src_ip",
        "src_port",
        F.col("grok_ok").cast("int").alias("grok_ok"),
    )


def _oracle_grok_sshd() -> str:
    return """
    SELECT 'ssh-' || event_id AS doc_id,
           CASE WHEN event_id % 3 = 0 THEN 'password' ELSE 'publickey' END AS method,
           printf('user%03d', user_id % 500) AS ssh_user,
           printf('10.%d.%d.%d', event_id % 223 + 1, user_id % 250,
                  (event_id * 7) % 250) AS src_ip,
           (event_id % 60000 + 1024)::BIGINT AS src_port,
           1 AS grok_ok
    FROM events
    """


def q_grok_apache(spark: SparkSession, sf: str) -> DataFrame:
    """Grok standard-library pattern (%{COMMONAPACHELOG}) over
    constructed access-log lines — nested typed fields (response:int,
    bytes:int) and the quoted-request alternation exercised for real."""
    from hnormalise_spark.parsing.grok import grok_extract

    o = _spread(
        spark.read.parquet(f"{sf}/orders.parquet").select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.col("o_custkey").cast("long").alias("c"),
        )
    )
    k, c = F.col("k"), F.col("c")
    verb = F.when(k % 5 == 0, F.lit("POST")).otherwise(F.lit("GET"))
    status = (
        F.when(k % 10 == 7, 404).when(k % 10 == 8, 500).when(k % 10 == 9, 304).otherwise(200)
    )
    line = F.format_string(
        '10.%d.%d.%d - user%03d [10/Oct/2000:13:55:36 +0200] "%s /item/%d HTTP/1.1" %d %d',
        c % 200 + 1, k % 250, c % 250, c % 500, verb, k % 10000, status,
        (k * 37 + c) % 100000,
    )
    raw = o.select(F.format_string("ap-%d", k).alias("doc_id"), line.alias("raw"))
    out = grok_extract(raw, "raw", "%{COMMONAPACHELOG}")
    return out.select(
        "doc_id",
        "clientip",
        "auth",
        "verb",
        "request",
        "response",
        "bytes",
        F.col("grok_ok").cast("int").alias("grok_ok"),
    )


def _oracle_grok_apache() -> str:
    return """
    SELECT 'ap-' || o_orderkey AS doc_id,
           printf('10.%d.%d.%d', o_custkey % 200 + 1, o_orderkey % 250,
                  o_custkey % 250) AS clientip,
           printf('user%03d', o_custkey % 500) AS auth,
           CASE WHEN o_orderkey % 5 = 0 THEN 'POST' ELSE 'GET' END AS verb,
           printf('/item/%d', o_orderkey % 10000) AS request,
           (CASE WHEN o_orderkey % 10 = 7 THEN 404
                 WHEN o_orderkey % 10 = 8 THEN 500
                 WHEN o_orderkey % 10 = 9 THEN 304
                 ELSE 200 END)::BIGINT AS response,
           ((o_orderkey * 37 + o_custkey) % 100000)::BIGINT AS bytes,
           1 AS grok_ok
    FROM orders
    """


_REGISTRY = {
    "parse_torque_exit": (q_parse_torque_exit, _oracle_torque_exit),
    "parse_torque_queue": (q_parse_torque_queue, _oracle_torque_queue),
    "parse_snoopy": (q_parse_snoopy, _oracle_snoopy),
    "parse_lmod": (q_parse_lmod, _oracle_lmod),
    "parse_shorewall": (q_parse_shorewall, _oracle_shorewall),
    "parse_slurm": (q_parse_slurm, _oracle_slurm),
    "slurm_partition_stats": (q_slurm_partition_stats, _oracle_slurm_partition_stats),
    "slurm_cluster_report": (q_slurm_cluster_report, _oracle_slurm_cluster_report),
    "envelope": (q_envelope, _oracle_envelope),
    "route_counts": (q_route_counts, _oracle_route_counts),
    "route_counts_rollup": (q_route_counts_rollup, _oracle_route_counts_rollup),
    "route_counts_salted": (q_route_counts_salted, _oracle_route_counts),
    "ops_triage": (q_ops_triage, _oracle_ops_triage),
    "table_snapshots": (q_table_snapshots, _oracle_table_snapshots),
    "stream_route_counts": (q_stream_route_counts, _oracle_route_counts),
    "stream_dedup": (q_stream_dedup, _oracle_stream_dedup),
    "stream_hll": (q_stream_hll, ops_entry._oracle_hll_distinct),
    "grok_sshd": (q_grok_sshd, _oracle_grok_sshd),
    "grok_apache": (q_grok_apache, _oracle_grok_apache),
    "walltime_memory": (q_walltime_memory, _oracle_walltime_memory),
    "host_list": (q_host_list, _oracle_host_list),
    "enrich_broadcast": (q_enrich_broadcast, _oracle_enrich),
    "json_encode_snoopy": (q_json_encode_snoopy, _oracle_json_snoopy),
    "json_input": (q_json_input, _oracle_json_input),
    "json_fields_projection": (q_json_fields_projection, _oracle_json_fields),
}

# The driver's correctness gate records only the first 50 queries()
# entries, so these names go first: the entries with no driver-recorded
# row yet.
_WITNESS_FIRST = [
    "bpe_train", "bpe_encode", "winnow_pairs", "bm25_indexed",
    "parse_slurm", "slurm_partition_stats", "slurm_cluster_report",
    "route_counts_salted", "grok_sshd", "grok_apache",
    "stream_route_counts", "sketch_distinct", "sketch_jaccard",
    "cm_heavy_hitters", "weighted_sample", "temperature_mix",
    "dup_span_extract", "dup_span_removal", "bloom_decontaminate",
    "quality_classifier", "token_dedup", "token_neardup", "dsir_select",
    "dsir_curation", "token_chunks", "token_decontam", "token_oov",
    "token_pack", "token_zipf", "token_repetition", "log_templates",
    "template_drift", "error_burst", "stratified_take",
    "source_token_kl", "vocab_remap", "length_buckets",
    "batch_pipeline", "ann_quantized", "ops_triage", "token_clusters",
    "token_lm", "table_snapshots", "semdedup", "ppl_buckets",
    "epoch_mix", "semantic_decontam", "token_entropy", "fertility",
    "sketch_quantiles",
]


def _witness_order(d: dict) -> dict:
    out = {k: d[k] for k in _WITNESS_FIRST if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


def _registry() -> dict:
    return _witness_order({**ops_entry.REGISTRY, **_REGISTRY})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q for name, (q, _) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle() for name, (_, oracle) in _registry().items()}
