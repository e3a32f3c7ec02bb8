"""hnormalise_spark — a PySpark-native log normalisation engine.

A from-scratch reimagining of the capabilities of hpcugent/hnormalise
(reference at /root/reference): parse raw rsyslog lines (Torque, Lmod,
Shorewall, Snoopy) into typed structs, route parse-success vs
parse-failure rows to separate sinks, and keep per-(source, parser,
success/failure) aggregate counts — expressed as a declarative Spark
DataFrame plan (JVM expressions, no per-row Python in the hot path)
over tables of pre-tokenized log sequences.
"""

__version__ = "0.1.0"

from hnormalise_spark.session import get_spark  # noqa: F401
