"""Cross-engine-portable column functions: date parts and hashes
(``compat``), text statistics (``text``), media decoding (``codecs``,
``jpeg``, ``multimodal``). Import each from its own module; the package
re-exports nothing."""
