"""DataFrame operators: mapInArrow extraction stage, forward-fill runs and
the per-field fold."""
