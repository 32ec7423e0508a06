"""cdf_spark — a PySpark-native continuous-data-framework engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference engine (z3z1ma/cdf, a Rust/DataFusion data-movement engine):
declarative resources, negotiated pushdown scans with fidelity evidence,
contract validation with per-row verdicts, keyed dedup / CDC-effect
reduction, late-data handling, deterministic hash-addressed packages,
and transactional destination commits with receipts + checkpoints —
plus the full relational surface (joins/aggs/windows/set-ops) and
large-scale training-data operators (dedup families, similarity
search, text analysis) that Spark makes cheap.

Layout:
  types/        canonical Arrow type vocabulary -> Spark types; schema
                fingerprints; schema authority  (SURVEY §1)
  expressions/  predicate AST, typed IR, content hashes, determinism
                gate, project-SQL admission     (SURVEY §2.3, §3.2)
  plans/        ScanRequest/ScanPlan, capability sheets, pushdown
                fidelity negotiation            (SURVEY §2.1, §4)
  sources/      file / python-generator / jdbc resources
  contracts/    row rules -> verdict lattice -> dispositions; transforms
  operators/    dedup, keyed effects, late data, sampling, asof join,
                LLM-data ops (minhash/simhash/ann/text)
  package/      segmented parquet packages, stats zone-maps, manifests,
                receipts + checkpoint ledger
  streaming/    watermark policies (incl. non-timestamp domains),
                execution extents, the streaming load pipeline
"""

__version__ = "0.1.0"
