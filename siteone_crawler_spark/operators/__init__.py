"""Frontier-engine operators: ordering, seen-set, candidate pipeline,
politeness, analyzer aggregations, and the training-data operators
(chunking, dsir, bpe, classifier) not yet cut."""
