"""clp_core_spark — a PySpark-native re-implementation of the CLP
(Compressed Log Processor) parse → encode → route → aggregate pipeline.

Reference semantics: y-scope/clp (read-only checkout at /root/reference).
This is NOT a port: the architecture is Spark-first (DataFrame/Catalyst),
only the CLP-specific tokenize/encode/decode kernels live in vectorized
Arrow-batched Python UDFs. Citations in docstrings use the form
``components/core/src/<path>:<lines>`` into the reference checkout.
"""

__version__ = "0.1.0"
