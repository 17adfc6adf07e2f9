"""Frontier-engine operators: ordering, seen-set, candidate pipeline,
politeness, analyzer aggregations, and the training-data operators
(connected components, sampling, chunking, dsir, bpe, classifier, pii) not
yet cut."""
