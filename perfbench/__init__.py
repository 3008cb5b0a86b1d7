"""Layer-attributed benchmark of the validation engine (see README.md)."""
