"""logstash_forwarder_spark — a from-scratch PySpark-native reimagining of
elastic/logstash-forwarder's harvest → enrich → ship loop as a distributed
parse → enrich → route → aggregate pipeline over tables of pre-tokenized
training sequences ``(doc_id, tokens, n_tok, source)``.

Not a port: the reference's goroutine/channel topology
(/root/reference/logstash-forwarder.go:143-158) becomes a declarative
DataFrame DAG optimized by Catalyst; its registrar offset file
(registrar.go:38-51) becomes one commit record per run (its manifest,
which also carries a tail poll's offsets), read as a checkpoint/lineage
table; its per-server shipping
(publisher1.go:168-196) becomes rule-based multi-sink routing with
exactly-once idempotent commits.
"""

__version__ = "0.1.0"
