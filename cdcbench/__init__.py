"""CDC pipeline benchmark through the live vitess-cdc source (see README.md)."""
