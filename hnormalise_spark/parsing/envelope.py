"""Rsyslog logstash-template envelope regexps.

Re-expression of parseRsyslogLogstashString (reference
HNormalise/Parser.hs:94-131): optional ``<PRI>version``, RFC3339
timestamp, hostname, syslogtag, literal '-', then the message (handed
to the payload dispatch). ``pipeline._envelope_stage`` runs them.

Template (Parser.hs:62):
``<%PRI%>1 %timegenerated:::date-rfc3339% %HOSTNAME% %syslogtag% - %msg%``
"""

from __future__ import annotations

# pri/version digit runs bounded: both feed int casts, and under ANSI
# an overflowing cast aborts the batch — a 10+-digit "pri" fails the
# envelope (failure sink) instead
RE_ENVELOPE = r"^(?:<(\d{1,9})>(\d{1,9})?)?\s*(\S+)\s+(\S+)\s+(\S+)\s+-\s*((?s:.*))$"

# attoparsec-time zonedTime: date, 'T'/space, time, optional seconds
# fraction, optional zone. A bare cast-to-timestamp is too lenient
# (accepts date-only), so shape-check first.
RE_RFC3339 = (
    r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?"
    r"([Zz]|[+-]\d{2}:?\d{2})?$"
)
