"""Spark operators: URL-seen set (exact anti-join on the url hash),
frontier push/pull, politeness planner, robots gate, page-cache join, and
the training-data operator family (dedup, similarity, text stats,
multimodal plumbing)."""
