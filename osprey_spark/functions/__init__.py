"""Arrow-batched pandas UDFs for SML functions whose exact Python
semantics aren't expressible with native Spark expressions
(unicode normalization, public-suffix domain parsing, murmur hashing,
IPv6 formatting). Always ``pandas_udf`` — never row-at-a-time Python.
Their builders are declared in ``osprey_spark.sml.stdlib.FUNCTIONS``.
"""
