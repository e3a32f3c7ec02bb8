"""Shorewall firewall-log parser as Spark Column expressions.

Re-expression of /root/reference/src/HNormalise/Shorewall/Parser.hs:
TCP (:53-78) tried first, then UDP (:87-112), then ICMP (:122-145)
— parseShorewall dispatch order (:147-152). Appname is "kernel".

Shape notes (mirroring the attoparsec structure):
* TCP lines have ``OUT=`` empty followed by a generic ``k=v`` pair
  whose *value* becomes fwmac (kvParser at :60; the key is arbitrary,
  normally MAC). No fwout.
* UDP/ICMP have ``OUT=<iface>``, no MAC.
* ICMP has no ports.
* The gap before ``PROTO=`` is skipped (manyTill/lookAhead, :66,100,133)
  → non-greedy ``.*?`` here.
* SRC/DST must be a full IPv4/IPv6/lowercase-hostname token
  (hostnameOrIPParser, Common/Parser.hs:58-64); the Host sum collapses
  to a plain string in JSON (Common/Json.hs:47-50).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hnormalise_spark.parsing import common as C
from hnormalise_spark.schemas import SHOREWALL_PAYLOAD

_HEAD = r"^kernel:: Shorewall:([^:]*):([^:]*):IN=(\S*)"
# ports bounded at 9 digits: the values feed long casts and an ANSI
# overflow would abort the batch; a wider "port" fails the row instead
RE_TCP = _HEAD + r"\s*OUT=\s*([^=]*)=(\S*)\s+SRC=(\S+)\s+DST=(\S+)(?s:.*?) PROTO=TCP\s+SPT=(\d{1,9})\s+DPT=(\d{1,9})"
RE_UDP = _HEAD + r"\s*OUT=(\S*)\s+SRC=(\S+)\s+DST=(\S+)(?s:.*?)PROTO=UDP\s+SPT=(\d{1,9})\s+DPT=(\d{1,9})"
RE_ICMP = _HEAD + r"\s*OUT=(\S*)\s+SRC=(\S+)\s+DST=(\S+)(?s:.*?) PROTO=ICMP"


# The protocol regexes tolerate trailing text (the reference's final
# takeText); a throwaway tail group makes each match whole-string so
# packed extraction (ONE regex run per attempted protocol) applies.
_TAIL = r"((?s:.*))$"
_N_TCP, _N_UDP, _N_ICMP = 10, 9, 7  # groups incl. tail


def layers(gate: Column, msg: Column) -> list[dict[str, Column]]:
    # ``contains('PROTO=X')`` is a NECESSARY condition for each proto
    # regex (the literal appears verbatim in the pattern), so gating
    # on it is semantics-free — it only skips regex attempts that
    # must fail. The win is the failing attempts: the TCP pattern's
    # lazy ``(?s:.*?)`` gap backtracks across the whole line before
    # failing on every UDP/ICMP row (2/3 of traffic), and a substring
    # scan is ~20x cheaper than that.
    layer1 = {
        "_sw_at": F.when(
            gate & msg.contains("PROTO=TCP"),
            C.packed_groups(msg, RE_TCP + _TAIL, _N_TCP),
        ),
    }
    layer2 = {
        "_sw_is_tcp": F.coalesce(C.packed_ok(F.col("_sw_at"), _N_TCP), F.lit(False)),
    }
    layer3 = {
        "_sw_au": F.when(
            gate & ~F.col("_sw_is_tcp") & msg.contains("PROTO=UDP"),
            C.packed_groups(msg, RE_UDP + _TAIL, _N_UDP),
        ),
    }
    layer4 = {
        "_sw_is_udp": F.coalesce(C.packed_ok(F.col("_sw_au"), _N_UDP), F.lit(False)),
    }
    layer5 = {
        "_sw_ai": F.when(
            gate
            & ~F.col("_sw_is_tcp")
            & ~F.col("_sw_is_udp")
            & msg.contains("PROTO=ICMP"),
            C.packed_groups(msg, RE_ICMP + _TAIL, _N_ICMP),
        ),
    }
    layer6 = {
        "_sw_is_icmp": F.coalesce(C.packed_ok(F.col("_sw_ai"), _N_ICMP), F.lit(False)),
    }

    def gt(i: int) -> Column:
        return F.when(F.col("_sw_is_tcp"), F.element_at(F.col("_sw_at"), i))

    def gu(i: int) -> Column:
        return F.when(F.col("_sw_is_udp"), F.element_at(F.col("_sw_au"), i))

    def gi(i: int) -> Column:
        return F.when(F.col("_sw_is_icmp"), F.element_at(F.col("_sw_ai"), i))

    def pick(t, u, i) -> Column:
        return F.coalesce(
            gt(t) if t else F.lit(None).cast("string"),
            gu(u) if u else F.lit(None).cast("string"),
            gi(i) if i else F.lit(None).cast("string"),
        )

    layer7 = {
        "_sw_rule": pick(1, 1, 1),
        "_sw_target": pick(2, 2, 2),
        "_sw_in": pick(3, 3, 3),
        "_sw_out": pick(0, 4, 4),
        "_sw_mac": gt(5),
        "_sw_src": pick(6, 5, 5),
        "_sw_dst": pick(7, 6, 6),
        "_sw_spt": pick(8, 7, 0),
        "_sw_dpt": pick(9, 8, 0),
    }
    return [layer1, layer2, layer3, layer4, layer5, layer6, layer7]


def result() -> tuple[Column, Column, Column]:
    is_tcp, is_udp, is_icmp = (
        F.col("_sw_is_tcp"), F.col("_sw_is_udp"), F.col("_sw_is_icmp")
    )
    matched = is_tcp | is_udp | is_icmp
    ok = matched & F.col("_sw_src").rlike(C.RE_HOST_OR_IP) & F.col("_sw_dst").rlike(
        C.RE_HOST_OR_IP
    )
    proto = (
        F.when(is_tcp, "TCP").when(is_udp, "UDP").when(is_icmp, "ICMP")
    )
    payload = F.struct(
        F.col("_sw_rule").alias("fwrule"),
        F.col("_sw_target").alias("fwtarget"),
        F.col("_sw_in").alias("fwin"),
        F.col("_sw_out").alias("fwout"),
        F.col("_sw_mac").alias("fwmac"),
        F.col("_sw_src").alias("fwsrc"),
        F.col("_sw_dst").alias("fwdst"),
        proto.alias("fwproto"),
        F.col("_sw_spt").cast("long").alias("fwspt"),
        F.col("_sw_dpt").cast("long").alias("fwdpt"),
    )
    payload = F.when(ok, payload).otherwise(F.lit(None).cast(SHOREWALL_PAYLOAD))
    parser = F.when(ok, F.concat(F.lit("shorewall_"), F.lower(proto)))
    return payload, parser, ok

