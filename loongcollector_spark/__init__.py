"""loongcollector_spark — a from-scratch PySpark-native analytics engine with the
pipeline semantics of wangkaibo34/loongcollector (parse → enrich → route → aggregate).

Built Spark-first: declarative DataFrame plans, Catalyst optimization, broadcast
joins for lookup enrich, explode-based fan-out routing, explicit repartitioning for
skew, and Arrow stages only where built-ins can't express semantics.

Reference semantics citations point into /root/reference (read-only checkout).
"""

__version__ = "0.1.0"
