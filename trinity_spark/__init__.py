"""trinity_spark — a brand-new PySpark-native inverted-index + BM25 engine.

Capability parity target: phaistos-networks/Trinity (reference at
/root/reference, C++17 IR library).  This is NOT a port: the reference's
iterator-based document-at-a-time engine is re-expressed as declarative
DataFrame plans (Catalyst/Tungsten pick the physical strategy); Python
touches data only through Arrow-vectorized pandas UDFs.

Layout
------
- ``tokenizer``          frozen tokenizer rules (shared python core + pandas UDF)
- ``functions.bm25``     the exact reference scoring contract (similarity.h:165-235)
- ``functions.tfidf``    the reference's TF-IDF + Trivial scorers (similarity.h:56-130)
                         as drop-ins for ``QueryPlanner(similarity=...)``
- ``functions.varbyte``  numpy-vectorized delta+varbyte codec (google_codec.cpp:127-168)
- ``operators.docids``   dense deterministic doc_id assignment (scalable two-pass)
- ``operators.build``    tokenize -> explode -> postings / term_dict / field_stats
- ``operators.segments`` physical segment wire codecs: native Parquet rows
                         (default), varbyte / pfor blocks (encode/decode)
- ``operators.merge``    segment merge + deletes (merge.cpp semantics)
- ``plans.ast``          query AST (queries.h:10-97)
- ``plans.parser``       query-string parser (queries.cpp:1830-1871 surface)
- ``plans.planner``      AST -> DataFrame plan with df-ordered strategy choice
- ``sources.store``      segment store: manifest, snapshots, resume, lineage
- ``oracle``             pocket pure-python reference engine (rank-identity gate)
- ``fixtures``           deterministic synthetic transcript corpus
"""

__version__ = "0.1.0"
