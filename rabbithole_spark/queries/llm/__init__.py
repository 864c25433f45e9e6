"""LLM-data-pipeline surface (SURVEY.md §2B LLM-data ops; BASELINE.json
north star): dedup family, similarity search, text analytics,
multimodal plumbing — exercised on documents/embeddings.

One module per query family; ``_common`` holds their shared helpers.
``rabbithole_spark.catalog`` imports each family module, which registers
its queries; import names from the module that defines them.
"""
