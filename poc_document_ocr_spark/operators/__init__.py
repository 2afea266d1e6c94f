"""DataFrame operators: mapInArrow extraction stage, window folds, review
state, plus a training-data library (dedup, similarity, text stats,
sampling)."""
