"""Structured Streaming: twins of the §2-K batch-declared operators
(``twins``) and the one Python streaming tail source (``tail``)."""
