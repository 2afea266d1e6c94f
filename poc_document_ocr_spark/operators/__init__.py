"""DataFrame operators: mapInArrow extraction stage, forward-fill runs and
the per-field fold, review state, plus a training-data library
(``textstats``)."""
