"""Byte-exact end-to-end JSON goldens, verbatim from
/root/reference/test/HNormalise/ParserSpec.hs:58-92."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hnormalise_spark import jsonout, pipeline as P
from hnormalise_spark import fixtures as FX

GOLDENS = {
    "e2e-lmod-load": '{"message":"lmod:: username=myuser, cluster=dmycluster, jobid=434.master.mycluster.mydomain, userload=yes, module=intel/2016a, fn=/apps/gent/SL6/sandybridge/modules/all/intel/2016","syslog_abspri":13,"syslog_version":1,"program":"lmod","@source_host":"node2159","lmod":{"info":{"username":"myuser","cluster":"dmycluster","jobid":{"number":434,"arrayId":null,"master":"master","cluster":"mycluster"}},"userload":true,"module":{"name":"intel","version":"2016a"},"filename":"/apps/gent/SL6/sandybridge/modules/all/intel/2016"}}',
    "e2e-lmod-cmd": '{"message":"lmod::  username=myuser, cluster=mycluster, jobid=132.mymaster.mycluster.mydomain, cmd=load, args=cluster/othercluster","syslog_abspri":13,"syslog_version":1,"program":"lmod","@source_host":"node2801","lmod":{"info":{"username":"myuser","cluster":"mycluster","jobid":{"number":132,"arrayId":null,"master":"mymaster","cluster":"mycluster"}},"command":"load","arguments":"cluster/othercluster"}}',
    "e2e-lmod-slurm": '{"message":"lmod::  username=someuser, cluster=mycluster, jobid=32018161, userload=yes, module=Python/3.6.4-intel-2018a, fn=/somepath/eb_phanpyscratch/CO7/haswell-ib/modules/all/Python/3.6.4-intel-2018a.lua","syslog_abspri":13,"syslog_version":1,"program":"lmod","@source_host":"node2627","lmod":{"info":{"username":"someuser","cluster":"mycluster","jobid":32018161},"userload":true,"module":{"name":"Python","version":"3.6.4-intel-2018a"},"filename":"/somepath/eb_phanpyscratch/CO7/haswell-ib/modules/all/Python/3.6.4-intel-2018a.lua"}}',
    "e2e-torque-exit": '{"message":"torque: 01/25/2017 15:04:10;E;0.mymaster.somepokemon.mydomain;user=huppelde group=huppelde jobname=STDIN queue=short ctime=1485350399 qtime=1485350399 etime=1485350399 start=1485350407 owner=huppelde@mymachine.mydomain.com exec_host=node2801.somepokemon.mydomain/0 Resource_List.walltime=01:00:00 Resource_List.vmem=4224531456b Resource_List.nodect=1 Resource_List.nodes=1 Resource_List.neednodes=1 Resource_List.nice=0 session=22598 total_execution_slots=1 unique_node_count=1 end=1485353050 Exit_status=265 resources_used.cput=0 resources_used.energy_used=0 resources_used.mem=31032kb resources_used.vmem=1541612kb resources_used.walltime=00:44:04","syslog_abspri":133,"syslog_version":1,"program":"torque","@source_host":"test2802","torque":{"torqueDatestamp":"01/25/2017 15:04:10","name":{"number":0,"arrayId":null,"master":"mymaster","cluster":"somepokemon"},"user":"huppelde","group":"huppelde","account":null,"jobname":"STDIN","queue":"short","startCount":null,"owner":"huppelde@mymachine.mydomain.com","session":22598,"times":{"ctime":1485350399,"qtime":1485350399,"etime":1485350399,"startTime":1485350407,"endTime":1485353050},"execHost":[{"name":"node2801.somepokemon.mydomain","cores":[0]}],"resourceRequest":{"mem":null,"advres":null,"naccesspolicy":null,"ncpus":null,"cputime":null,"prologue":null,"epilogue":null,"neednodes":[{"number":1,"ppn":null}],"nice":0,"nodeCount":1,"nodes":[{"number":1,"ppn":null}],"select":null,"qos":null,"other":null,"feature":null,"host":null,"procs":null,"nodeset":null,"tpn":null,"pmem":null,"vmem":4224531456,"pvmem":null,"mppmem":null,"walltime":3600},"resourceUsage":{"cputime":0,"energy":0,"mem":31776768,"vmem":1578610688,"walltime":2644},"totalExecutionSlots":1,"uniqueNodeCount":1,"exitStatus":265,"torqueEntryType":"TorqueExitEntry"}}',
    "e2e-torque-abort": '{"message":"torque: 10/17/2013 02:46:14;A;86264.master15.delcatty.gent.vsc;","syslog_abspri":133,"syslog_version":1,"program":"torque","@source_host":"master15","torque":{"torqueDatestamp":"10/17/2013 02:46:14","name":{"number":86264,"arrayId":null,"master":"master15","cluster":"delcatty"},"torqueEntryType":"TorqueAbortEntry"}}',
    "e2e-snoopy": '{"message":"snoopy[28949]::  [uid:992 username:nrpe sid:11542 tty:(none) cwd:/ filename:/usr/bin/which]: which python","syslog_abspri":86,"syslog_version":1,"program":"snoopy","@source_host":"mymaster","snoopy":{"pid":28949,"uid":992,"username":"nrpe","sid":11542,"tty":"(none)","cwd":"/","executable":"/usr/bin/which","command":"which python"}}',
}

FIELDS_GOLDEN = '{"snoopy":{"pid":28949,"uid":992,"username":"nrpe","sid":11542,"tty":"(none)","cwd":"/","executable":"/usr/bin/which","command":"which python"},"@source_host":"mymaster"}'

SW_GOLDENS = {
    # struct-derived (the reference's own JSON has the fwdpt/"fwdst"
    # duplicate-key bug we deliberately fix — SURVEY §7)
    "sw-tcp": '{"fwrule":"ext2fw","fwtarget":"REJECT","fwin":"em3","fwmac":"aa:aa:bb:ff:88:bc:bc:15:80:8b:f8:f8:80:00","fwsrc":"78.0.0.1","fwdst":"150.0.0.1","fwproto":"TCP","fwspt":60048,"fwdpt":22}',
    "sw-icmp": '{"fwrule":"ipmi2ext","fwtarget":"REJECT","fwin":"em4","fwout":"em3","fwsrc":"10.0.0.2","fwdst":"10.0.0.1","fwproto":"ICMP"}',
}


@pytest.fixture(scope="module")
def encoded(spark):
    rows = [(i, l) for (i, _, _, l) in FX.CORPUS]
    df = spark.createDataFrame(rows, "doc_id string, raw string")
    parsed = P.normalise(df)
    enc = parsed.withColumn("json", jsonout.encode_normalised()).withColumn(
        "json_fields",
        jsonout.encode_normalised([("@source_host", "hostname")]),
    ).withColumn("payload_json", jsonout.payload_json())
    return {r["doc_id"]: r for r in enc.collect()}


# encode_normalised() and its fields variant for EVERY fixture row,
# captured from the encoder before its CASE/leaf rewrite: all six torque
# entry types, both node shapes, lmod jobid as int and as object,
# shorewall's omitted members, slurm, and null for failed rows.
CORPUS_GOLDENS = os.path.join(os.path.dirname(__file__), "goldens", "corpus_json.json")


def test_every_corpus_row_byte_exact(encoded):
    with open(CORPUS_GOLDENS, encoding="utf-8") as fh:
        goldens = json.load(fh)
    assert set(goldens) == {i for (i, _, _, _) in FX.CORPUS}
    for fid, want in goldens.items():
        assert encoded[fid]["json"] == want["json"], fid
        assert encoded[fid]["json_fields"] == want["json_fields"], fid


def test_e2e_goldens_byte_exact(encoded):
    for fid, golden in GOLDENS.items():
        assert encoded[fid]["json"] == golden, fid


def test_fields_projection_golden(encoded):
    # ParserSpec.hs:89-90 — fields config [("@source_host","hostname")]
    assert encoded["e2e-snoopy"]["json_fields"] == FIELDS_GOLDEN


def test_shorewall_payload_json(encoded):
    for fid, golden in SW_GOLDENS.items():
        assert encoded[fid]["payload_json"] == golden, fid
