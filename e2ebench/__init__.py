"""End-to-end benchmark of the production extraction job (see README.md)."""
